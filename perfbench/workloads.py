"""The three benchmark workloads.

Each workload prepares seeded inputs plus their expected results, then runs
a closed loop with one client: the next op starts when the previous one has
returned and been checked. Only the op itself is timed; checking and
clean-up happen between ops.

``corpus``  the CLI encode then decode of the source-code corpus: salting,
            shuffle and sort, string codec trials, FSST/dict/zstd, Bloom
            filters, the lineage commit and the string decode.
``tables``  the driver-contract ``roundtrip_lineitem`` and
            ``roundtrip_events`` queries on single-row-group files: the
            ungrouped path, ``sources.parallel_scan`` and the int, float and
            timestamp codecs, with no salting, shuffle or FSST.
``lookup``  seeded selective decodes on pre-encoded ``events`` (ordered by
            ``ts``) and ``customer`` (ordered by ``c_acctbal``): zone-map and
            Bloom pruning plus per-job overhead, with bulk decode minor.
"""

from __future__ import annotations

import contextlib
import datetime
import io
import json
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass, field

import inputs
from check import checksum, parquet_bytes, write_reference

CORPUS_ROWS = 25_000
LOOKUP_PLAN = 10  # lookups planned per shape; the loop cycles through them
LOOKUP_SHAPES = ("range", "name", "in", "scan")
MB = 1e6


@dataclass
class Sample:
    """One timed op: its wall, the logical MB it covers, and whether its
    output matched the expected result."""
    wall_s: float
    mb: float
    ok: bool
    parts: dict = field(default_factory=dict)  # sub-op walls, per layer
    stored: int | None = None  # encoded bytes on disk, when the op wrote them


class Workload:
    name = ""
    min_ops = 1  # ops the loop runs even past the deadline
    warm_up = True  # one untimed op before the loop

    def __init__(self, spark, work_dir: str, seed: int, cpus: int, tracer):
        self.spark = spark
        self.work = work_dir
        os.makedirs(work_dir, exist_ok=True)
        self.seed = seed
        self.cpus = cpus
        self.tr = tracer
        self.logical = 0        # logical source bytes
        self.stored = 0         # encoded bytes on disk for that source
        self.reference = 0      # GZIP dictionary-off parquet bytes

    def prepare(self) -> None:
        """Generate inputs and expected results into ``self.work``."""
        raise NotImplementedError

    def op(self, i: int) -> Sample:
        raise NotImplementedError

    def chunk_dirs(self) -> list[str]:
        """Encoded chunk directories the traced replay samples from."""
        raise NotImplementedError


class Corpus(Workload):
    name = "corpus"
    # A CLI user starts a new session for every encode and decode, so the
    # op is timed cold, with the JIT and Python worker start-up it pays.
    warm_up = False

    def prepare(self) -> None:
        import numpy as np

        from parquet2csv_spark.sources.corpus import CorpusSpec, corpus_batch

        # the rows sources.corpus.write_corpus writes, generated in this
        # process: a Spark job here would only add cold-start time to set-up
        tbl = corpus_batch(np.arange(CORPUS_ROWS), CorpusSpec(self.seed, CORPUS_ROWS))
        self.src = f"{self.work}/corpus"
        inputs.write_parts(tbl, self.src, max(self.spark.sparkContext.defaultParallelism, 8))
        self.logical = inputs.logical_bytes(tbl)
        source = self.spark.read.parquet(self.src)
        self.expected = checksum(source)
        self.reference = write_reference(source, f"{self.work}/reference")
        self.kept = f"{self.work}/kept"  # last encode, for the traced replay

    def _cli(self, *argv: str) -> int:
        import driver

        with contextlib.redirect_stdout(io.StringIO()) as out:
            rc = driver.main(["--cpus", str(self.cpus), *argv], stop_session=False)
        self.cli_out = out.getvalue()
        return rc

    def op(self, i: int) -> Sample:
        enc, dec = f"{self.work}/enc{i}", f"{self.work}/dec{i}"
        with self.tr.op("encode") as e:
            rc_e = self._cli("encode", "--input", self.src, "--out", enc)
        if rc_e == 0:
            e.marks["groups"] = json.loads(self.cli_out.splitlines()[-1])["groups_done"]
        with self.tr.op("decode") as d:
            rc_d = self._cli("decode", "--chunks", enc,
                             "--schema-json", f"{enc}/schema.json", "--out", dec)
        ok = rc_e == 0 and rc_d == 0 and \
            checksum(self.spark.read.parquet(dec)) == self.expected
        shutil.rmtree(self.kept, ignore_errors=True)
        os.rename(enc, self.kept)
        shutil.rmtree(dec, ignore_errors=True)
        return Sample(e.wall + d.wall, self.logical / MB, ok,
                      {"encode_s": e.wall, "decode_s": d.wall},
                      stored=parquet_bytes(f"{self.kept}/chunks"))

    def chunk_dirs(self) -> list[str]:
        return [f"{self.kept}/chunks"]


class Tables(Workload):
    name = "tables"
    min_ops = 2
    TABLES = ("lineitem", "events")

    def prepare(self) -> None:
        from parquet2csv_spark.sources.parallel_scan import parallel_scan_encode

        self.dir = f"{self.work}/tables"
        os.makedirs(self.dir, exist_ok=True)
        self.expected = {}
        for t in self.TABLES:
            tbl = inputs.GENERATORS[t](self.seed)
            path = f"{self.dir}/{t}.parquet"
            inputs.write_single_row_group(tbl, path)
            self.logical += inputs.logical_bytes(tbl)
            # checksum and reference read a copy split per core
            parts = f"{self.work}/parts/{t}"
            inputs.write_parts(tbl, parts, self.cpus)
            src = self.spark.read.parquet(parts)
            self.expected[t] = checksum(src)
            self.reference += write_reference(src, f"{self.work}/reference/{t}")
            # the roundtrip queries never persist chunks; run their encode
            # once more and write it to measure what they would store
            parallel_scan_encode(self.spark, path, src.schema, chunk_rows=16384) \
                .write.parquet(f"{self.work}/chunks/{t}")
        self.stored = parquet_bytes(f"{self.work}/chunks")

    def op(self, i: int) -> Sample:
        import __spark_entry__ as entry

        q = entry.queries()
        got = {}
        walls = {}
        for t in self.TABLES:
            with self.tr.op(f"roundtrip_{t}") as o:
                got[t] = checksum(q[f"roundtrip_{t}"](self.spark, self.dir))
            walls[f"{t}_s"] = o.wall
        return Sample(sum(walls.values()), self.logical / MB,
                      got == self.expected, walls)

    def chunk_dirs(self) -> list[str]:
        return [f"{self.work}/chunks/{t}" for t in self.TABLES]


@dataclass
class Lookup:
    shape: str
    table: str
    filters: list
    expected: Counter = field(default_factory=Counter)


def plan_lookups(seed: int) -> list[Lookup]:
    """Seeded lookup mix, shapes interleaved: a 6-hour ``ts`` range, a
    ``c_name ==`` point lookup (Bloom pruning), a sparse 8-value
    ``event_id in`` list, and a high ``value >=`` threshold — doubles carry
    no zone map, so that predicate prunes nothing and decodes every chunk
    while returning a few dozen rows."""
    rng = random.Random(seed)
    span = inputs.EVENTS_SPAN_DAYS * 86_400 - 6 * 3_600
    out = []
    for _ in range(LOOKUP_PLAN):
        lo = inputs.EVENTS_START + datetime.timedelta(seconds=rng.randrange(span))
        out += [
            Lookup("range", "events",
                   [("ts", ">=", lo), ("ts", "<", lo + datetime.timedelta(hours=6))]),
            Lookup("name", "customer", [
                ("c_name", "==", f"Customer#{rng.randrange(inputs.CUSTOMER_ROWS):09d}")]),
            Lookup("in", "events", [
                ("event_id", "in", sorted(rng.sample(range(inputs.EVENTS_ROWS), 8)))]),
            Lookup("scan", "events", [("value", ">=", round(rng.uniform(420, 540), 2))]),
        ]
    return out


def _filter_column(filters):
    """The plain Spark predicate for decode_table-style filter triples."""
    from pyspark.sql import functions as F

    cond = None
    for col, op, val in filters:
        c = F.col(col)
        term = {
            ">=": lambda: c >= F.lit(val), ">": lambda: c > F.lit(val),
            "<=": lambda: c <= F.lit(val), "<": lambda: c < F.lit(val),
            "==": lambda: c == F.lit(val), "in": lambda: c.isin(list(val)),
        }[op]()
        cond = term if cond is None else cond & term
    return cond


class LookupWorkload(Workload):
    name = "lookup"
    min_ops = 40  # enough for a p75 with ten lookups beyond it
    ORDER = {"events": ("ts", 2048), "customer": ("c_acctbal", 256)}

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from parquet2csv_spark.operators import encode_table

        self.plan = plan_lookups(self.seed)
        self.chunks, self.schema, self.table_mb = {}, {}, {}
        for t, (order, rows) in self.ORDER.items():
            tbl = inputs.GENERATORS[t](self.seed)
            path = f"{self.work}/{t}.parquet"
            inputs.write_single_row_group(tbl, path)
            self.table_mb[t] = inputs.logical_bytes(tbl) / MB
            self.logical += inputs.logical_bytes(tbl)
            src = self.spark.read.parquet(path)
            self.schema[t] = src.schema
            self.reference += write_reference(
                src.repartition(self.cpus), f"{self.work}/reference/{t}")
            cdir = f"{self.work}/chunks/{t}"
            encode_table(src.orderBy(order), chunk_rows=rows).write.parquet(cdir)
            self.chunks[t] = self.spark.read.parquet(cdir)
            # expected rows from plain Spark filters on the source: tag each
            # row with the ids of the lookups it satisfies, one job per table
            mine = [(i, lk) for i, lk in enumerate(self.plan) if lk.table == t]
            tags = F.array_compact(F.array(*[
                F.when(_filter_column(lk.filters), F.lit(i)) for i, lk in mine]))
            cols = src.columns
            for row in src.select(F.explode(tags).alias("_lid"), *cols).collect():
                self.plan[row["_lid"]].expected[tuple(row[c] for c in cols)] += 1
        self.stored = parquet_bytes(f"{self.work}/chunks")

    def op(self, i: int) -> Sample:
        from parquet2csv_spark.operators import decode_table

        lk = self.plan[i % len(self.plan)]
        with self.tr.op(f"lookup_{lk.shape}") as o:
            df = decode_table(self.chunks[lk.table], self.schema[lk.table],
                              filters=lk.filters)
            o.mark("plan")
            rows = df.collect()
        ok = Counter(tuple(r) for r in rows) == lk.expected
        return Sample(o.wall, self.table_mb[lk.table], ok,
                      {"plan_s": o.marks["plan"], "rows": len(rows)})

    def chunk_dirs(self) -> list[str]:
        return [f"{self.work}/chunks/{t}" for t in self.ORDER]


WORKLOADS = {w.name: w for w in (Corpus, Tables, LookupWorkload)}
