"""The two workloads: inputs made from the seed, the timed job, the
reference computed once outside the timed region, the output check and the
per-layer prefix probes of the traced run.

Every job calls only the package's public functions; the program sees only
the generated tables. Sizes are the full-scale input; ``scale`` shrinks
them (the self-test runs at a few percent).
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from buildlogparser_spark.datagen import BASE_TS
from buildlogparser_spark.oracle import parse_lines_with_turns
from buildlogparser_spark.operators import curate
from buildlogparser_spark.operators.assemble import (
    assemble_compile_blocks, parse_stateful)
from buildlogparser_spark.operators.classify import classified_sql, classify
from buildlogparser_spark.operators.dedup import (
    dedup_exact, near_dup_components_star, ngram_jaccard_pairs)
from buildlogparser_spark.operators.enrich import enrich, enriched_sql
from buildlogparser_spark.operators.route import route_writes
from buildlogparser_spark.rules.table import CompileErrorRule, default_stack
from buildlogparser_spark.transcripts import derive_transcripts

from .host import Resources
from .trace import Tracer

# ---------------------------------------------------------------------------
# output digests: row count plus an order-free hash
# ---------------------------------------------------------------------------

_MASK = (1 << 64) - 1


def _norm(v):
    """One canonical Python value per cell, whichever engine or collection
    path produced it (Arrow→pandas turns a nullable long into a float with
    NaN for null, DuckDB may hand back a Decimal)."""
    if hasattr(v, "tolist"):  # numpy scalar or array
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() else repr(v)
    return v


def digest(rows) -> tuple[int, int]:
    n = h = 0
    for r in rows:
        key = repr(tuple(_norm(v) for v in r)).encode()
        h = (h + int.from_bytes(
            hashlib.blake2b(key, digest_size=8).digest(), "little")) & _MASK
        n += 1
    return n, h


def _pandas_rows(pdf):
    return pdf.itertuples(index=False, name=None)


@dataclass
class JobOutput:
    value: object           # what ``observe`` turns into the checked digest
    frames: list            # DataFrames the job ran an action on


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose name ends in ``suffix``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Workload:
    """Base: subclasses define ``name``, ``build``, ``job``, ``observe``,
    ``reference`` and ``probes``. ``probes`` returns the per-layer metrics,
    each with the name of the span it was measured in, and the outcome of
    any output checks it made."""

    name = ""
    # job times keep falling over a fresh JVM's first jobs, as the JIT
    # compiles the per-job planning, codegen and write paths
    warmup_jobs = 2

    def __init__(self, spark: SparkSession, res: Resources, work: str,
                 scale: float, tracer: Tracer):
        self.spark = spark
        self.res = res
        self.work = work
        self.scale = scale
        self.tracer = tracer
        self.rows = 0          # input rows per job
        self.input_desc = ""

    def duck(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        con.execute(f"SET threads={self.res.duckdb_threads}")
        con.execute(f"SET memory_limit='{self.res.duckdb_memory_mb}MB'")
        con.execute(f"SET temp_directory='{self.res.tmpdir}/duckdb'")
        return con

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def prefix(self, name: str, action) -> float:
        """Seconds of ``action()`` in a span named ``name``: the calls into
        the layers of one prefix of the job, drained by an action (usually
        the ``noop`` sink)."""
        with self.tracer.span(name):
            t = time.perf_counter()
            action()
            return time.perf_counter() - t


# ---------------------------------------------------------------------------
# flagship: classify → enrich → aggregate (q1) plus the routed sinks
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
_TS_SPAN_S = 31 * 86_400      # January 2024: one month bucket per sink
_SINKS = (["diagnostics"]
          + [f"severity={s}" for s in ("error", "warning", "info", "note")]
          + [f"class={c}" for c in ("error", "warning", "note", "tool-invocation",
                                     "step-boundary")])


def seeded_events(spark: SparkSession, n_rows: int, n_users: int, seed: int,
                  partitions: int) -> DataFrame:
    """An events table with ``datagen.gen_events_spark``'s schema whose
    timestamps, users and event types are hashes of (row, seed)."""
    i = F.col("id")

    def h(salt: int, mod: int):
        return F.pmod(F.xxhash64(i, F.lit(seed), F.lit(salt)), F.lit(mod))

    return spark.range(0, n_rows, numPartitions=partitions).select(
        i.alias("event_id"),
        F.timestamp_seconds(F.lit(BASE_TS) + h(1, _TS_SPAN_S)).alias("ts"),
        h(2, n_users).alias("user_id"),
        F.element_at(F.array(*[F.lit(x) for x in _EVENT_TYPES]),
                     (h(3, len(_EVENT_TYPES)) + 1).cast("int")).alias("event_type"),
        (h(4, 10_000) / 100.0).alias("value"),
        F.concat(F.lit('{"k": '), h(5, 100).cast("string"), F.lit("}")).alias("props"),
    )


class Flagship(Workload):
    name = "flagship"
    TURNS = 40_000
    TURNS_PER_CONV = 64
    # its jobs are short and their times fall for longer: after two warm-up
    # jobs the next three still fall by a tenth
    warmup_jobs = 4

    def build(self, seed: int, path: str) -> DataFrame:
        n = max(1024, int(self.TURNS * self.scale))
        n_users = n // self.TURNS_PER_CONV
        events = seeded_events(self.spark, n, n_users, seed, self.res.spark_cpus)
        derive_transcripts(events).repartition(4 * self.res.spark_cpus) \
            .write.parquet(path)
        tr = self.spark.read.parquet(path)
        self.rows = tr.count()
        self.path = path
        self.sinks = os.path.join(self.work, "sinks")
        self.input_desc = (f"{self.rows} turns, {n_users} conversations, "
                           f"{self.rows / n_users:.1f} turns/conversation")
        return tr

    @staticmethod
    def q1(diags: DataFrame) -> DataFrame:
        """``bench.py``'s flagship query: diagnostics per class, severity
        and tool family."""
        return (enrich(diags).groupBy("diag_class", "severity", "tool_family")
                .agg(F.count("*").alias("n")))

    def job(self, tr: DataFrame) -> JobOutput:
        diags = classify(tr)
        q1 = self.q1(diags)
        rows = q1.collect()
        route_writes(diags, self.sinks, n_salt=4, ts_granularity="month")
        return JobOutput([tuple(r) for r in rows], [q1])

    def _sink_rows(self) -> tuple:
        out = []
        for s in _SINKS:
            n = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                    for d, _x, fs in os.walk(os.path.join(self.sinks, s))
                    for f in fs if f.endswith(".parquet"))
            out.append((s, n))
        return tuple(out)

    def observe(self, out: JobOutput) -> dict:
        return {"q1": digest(out.value), "sinks": self._sink_rows()}

    def reference(self) -> dict:
        tr_sql = ("SELECT conv_id, turn_idx, role, text, tool, ts FROM "
                  f"read_parquet('{self.path}/*.parquet')")
        diags = classified_sql(tr_sql, cols=["role", "tool", "severity", "diag_class"])
        sql = (f"SELECT diag_class, severity, tool_family, count(*) AS n "
               f"FROM ({enriched_sql(diags)}) e GROUP BY ALL")
        con = self.duck()
        try:
            rows = con.execute(sql).fetchall()
        finally:
            con.close()
        sinks = Counter()
        for cls, sev, _fam, n in rows:
            sinks["diagnostics"] += n
            sinks[f"severity={sev}"] += n
            sinks[f"class={cls}"] += n
        return {"q1": digest(rows), "sinks": tuple((s, sinks[s]) for s in _SINKS)}

    def probes(self, tr: DataFrame, observed: dict) -> tuple[dict, dict]:
        # q1 reads three columns, the sinks read all of them: each prefix
        # projects what the next layer consumes, so adjacent prefixes
        # differ by one layer's work
        q1_in = ["diag_class", "severity", "tool"]
        q1_cols = ["diag_class", "severity", "tool_family"]
        p_scan = self.prefix("scan", lambda: noop(self.spark.read.parquet(self.path)))
        p_cls = self.prefix("classify", lambda: noop(classify(tr)))
        p_cls_q1 = self.prefix("classify", lambda: noop(classify(tr).select(*q1_in)))
        p_enr = self.prefix(
            "enrich", lambda: noop(enrich(classify(tr)).select(*q1_cols)))
        p_agg = self.prefix("aggregate", lambda: self.q1(classify(tr)).collect())
        p_route = self.prefix("route", lambda: route_writes(
            classify(tr), self.sinks, n_salt=4, ts_granularity="month"))
        files, size = tree_bytes(self.sinks, ".parquet")
        routed = dict(observed["sinks"])["diagnostics"]

        # the stateful path over the same transcripts, checked against the
        # oracle; the checked run also warms its plans for the prefixes
        with self.tracer.span("parse_stateful"):
            parsed = parse_stateful(tr, default_stack).toPandas()
            blocks = assemble_compile_blocks(tr).toPandas()
        got = {"parse_stateful": digest(_pandas_rows(parsed)),
               "assemble_compile_blocks": digest(_pandas_rows(blocks))}
        con = self.duck()
        try:
            expected, groups = oracle_digests(con, self.path)
        finally:
            con.close()
        p_parse = self.prefix("parse_stateful",
                              lambda: noop(parse_stateful(tr, default_stack)))
        p_asm = self.prefix("assemble_window",
                            lambda: noop(assemble_compile_blocks(tr)))
        checks = {name: got[name] == expected[name] for name in expected}
        return {
            "scan.s": (p_scan, "scan"),
            "classify.s": (p_cls - p_scan, "classify"),
            "classify.hit_ratio": (routed / self.rows, "job"),
            "enrich.s": (p_enr - p_cls_q1, "enrich"),
            "aggregate.s": (p_agg - p_enr, "aggregate"),
            "route.s": (p_route - p_cls, "route"),
            "route.files": (files, "route"),
            "route.bytes_per_row": (size / routed, "route"),
            "parse_stateful.s": (p_parse - p_scan, "parse_stateful"),
            "parse_stateful.groups": (groups, "parse_stateful"),
            "parse_stateful.rows_out": (got["parse_stateful"][0], "parse_stateful"),
            "assemble_window.s": (p_asm - p_scan, "assemble_window"),
        }, checks


# ---------------------------------------------------------------------------
# stateful parse: the oracle state machine per conversation, plus windowed
# compile-block assembly (measured and checked in flagship's traced run)
# ---------------------------------------------------------------------------

def _compile_only():
    return [CompileErrorRule()]


def _stateful_row(conv, turn, d) -> tuple:
    return (conv, turn, d.file, d.line, d.column, d.severity, d.message,
            d.related_messages, d.source, d.category, d.raw, d.build_target)


def oracle_digests(con: duckdb.DuckDBPyConnection, path: str) -> tuple[dict, int]:
    """Digests of ``parse_stateful(default_stack)`` and
    ``assemble_compile_blocks`` as the pure-Python oracle computes them over
    the transcript parquet at ``path``, and the number of conversations."""
    rows = con.execute(
        "SELECT conv_id, turn_idx, text FROM "
        f"read_parquet('{path}/*.parquet') ORDER BY conv_id, turn_idx").fetchall()
    convs: dict[str, tuple[list, list]] = {}
    for conv, turn, text in rows:
        lines, turns = convs.setdefault(conv, ([], []))
        lines.append(text)
        turns.append(turn)

    def expected(rules_factory):
        for conv, (lines, turns) in convs.items():
            for t, d in parse_lines_with_turns(lines, turns, rules_factory()):
                yield _stateful_row(conv, t, d)

    return {"parse_stateful": digest(expected(default_stack)),
            "assemble_compile_blocks": digest(expected(_compile_only))}, len(convs)


# ---------------------------------------------------------------------------
# curation: the composed training-data pipeline over a documents table
# ---------------------------------------------------------------------------

_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row "
          "the agg key query a scan batch").split()
_LANGS = ("en", "zh", "de", "es", "fr")
_LANG_WEIGHTS = (41, 15, 14, 15, 15)
_DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                          ("lang", pa.string()), ("source", pa.string()),
                          ("n_chars", pa.int64())])


def seeded_documents(seed: int, n_docs: int) -> pa.Table:
    """A documents table shaped like the sf0.1 one: 10-100 words from a
    30-word vocabulary, 5% near-duplicates (an original plus " dup") and
    0.2% exact duplicates, rows in a seed-chosen order. Near-duplicates copy
    only originals, so every near-dup component is a star of depth one."""
    rng = random.Random(seed)
    originals: list[str] = []
    rows = []
    for doc_id in range(n_docs):
        r = rng.random()
        if originals and r < 0.05:
            text = rng.choice(originals) + " dup"
        elif originals and r < 0.052:
            text = rng.choice(originals)
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 100)))
            originals.append(text)
        lang = rng.choices(_LANGS, weights=_LANG_WEIGHTS)[0]
        rows.append((doc_id, text, lang, f"src{rng.randrange(20)}", len(text)))
    rng.shuffle(rows)
    return pa.Table.from_pylist(
        [dict(zip(_DOCS_SCHEMA.names, r)) for r in rows], schema=_DOCS_SCHEMA)


class Curation(Workload):
    name = "curation"
    DOCS = 400

    def build(self, seed: int, path: str) -> DataFrame:
        n_docs = max(40, int(self.DOCS * self.scale))
        os.makedirs(path)
        pq.write_table(seeded_documents(seed, n_docs),
                       os.path.join(path, "documents.parquet"))
        docs = self.spark.read.parquet(path)
        self.rows = docs.count()
        self.path = path
        self.input_desc = f"{self.rows} documents"
        return docs

    def job(self, docs: DataFrame) -> JobOutput:
        cur = curate.curation_pipeline(docs)
        return JobOutput(cur.toPandas(), [cur])

    def observe(self, out: JobOutput) -> dict:
        return {"curation_pipeline": digest(_pandas_rows(out.value))}

    def reference(self) -> dict:
        con = self.duck()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.path}/*.parquet')")
            rows = con.execute(curate.curation_pipeline_sql()).fetchall()
        finally:
            con.close()
        return {"curation_pipeline": digest(rows)}

    def probes(self, docs: DataFrame, observed: dict) -> tuple[dict, dict]:
        p_scan = self.prefix("scan", lambda: noop(self.spark.read.parquet(self.path)))
        p_exact = self.prefix("dedup", lambda: noop(dedup_exact(docs)))
        p_pairs = self.prefix("dedup", lambda: noop(ngram_jaccard_pairs(docs)))
        pairs_path = self.fresh_dir("pairs")
        ngram_jaccard_pairs(docs).write.parquet(pairs_path)
        pairs = self.spark.read.parquet(pairs_path)
        p_comp = self.prefix("components",
                             lambda: noop(near_dup_components_star(docs, pairs)))
        return {
            "scan.s": (p_scan, "scan"),
            "dedup.s": (p_exact + p_pairs - 2 * p_scan, "dedup"),
            "components.s": (p_comp - p_scan, "components"),
        }, {}


WORKLOADS = {w.name: w for w in (Flagship, Curation)}
