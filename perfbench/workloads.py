"""The four benchmark workloads.

A workload generates its inputs from the seed (``generate``), takes its
expected answers from the independent DuckDB oracle (``expect``),
commits whatever state it needs while the session is being set up
(``prepare``), and then yields timed operations (``ops``) that a single
closed-loop client runs one after another. ``before`` is the untimed
reset in front of each iteration; ``check`` compares one operation's
output with the expectation and returns a description of any mismatch.
"""

from __future__ import annotations

import os
import shutil
import time

import inputs

# The five reference CLI analyses, each with the oracle_sql() entry it must equal.
ANALYSES = {
    "git_operations": "log_git_operations",
    "max_concurrent": "log_max_concurrent",
    "protocol_counts": "log_protocol_counts",
    "repository_stats": "log_repository_stats",
    "duration_percentiles": "log_duration_percentiles",
}
# Global rollups over committed daily sinks, with their oracle_sql() twin.
ROLLUPS = {
    "repository_stats_global": "log_repository_stats",
    "protocol_counts_global": "log_protocol_counts",
    "duration_percentiles_global_sketch": "log_duration_percentiles_sketch",
}
ROLLUP_SINKS = ("repository_stats_daily", "protocol_counts_daily", "duration_hist_daily")
# corpus_ops leaves as (operator module, queries() name). textstats has
# two: docs_fingerprint runs its main stage as a single task (ROADMAP
# item 1), docs_kneser_ney leaves cached state behind (item 4).
LEAVES = [
    ("similarity", "emb_ivf_topk"),
    ("dedup", "docs_minhash_lsh_pairs"),
    ("textstats", "docs_fingerprint"),
    ("textstats", "docs_kneser_ney"),
    ("graph", "log_repo_adamic_adar"),
]
STAGE = "parsed_stage"


def _mismatch(what: str, got, want) -> str | None:
    if got == want:
        return None
    return f"{what}: got {str(got)[:300]} want {str(want)[:300]}"


def _lineage(root: str, run_id: str) -> dict[tuple[str, str], int]:
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(root, "_lineage"), format="parquet").to_table()
    return {
        (s, d): int(n)
        for s, d, n, r in zip(*(t.column(c).to_pylist() for c in ("sink", "day", "rows", "run_id")))
        if str(r) == run_id
    }


def _metrics_rows(root: str, days: set[str]) -> list:
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(root, "metrics"), format="parquet", partitioning="hive").to_table()
    cols = [t.column(c).to_pylist() for c in ("day", "source", "total_lines", "parsed_lines", "malformed_lines")]
    return inputs.normalize(r for r in zip(*cols) if str(r[0]) in days)


class Ctx:
    """What every workload needs: the session, the seed and a work directory."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class Workload:
    """Defaults for the optional hooks; see the module docstring."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        # per-layer samples of the timed iterations, by metric name
        self.layer_samples: dict[str, list[float]] = {}

    def oracle_tables(self) -> dict[str, str]:
        return {}

    def prepare(self) -> None:
        pass

    def before(self, i: int) -> None:
        pass

    def record_layers(self, name: str, result) -> None:
        pass

    def probe_input(self):
        """(raw rows one iteration parses, their count, sink root) for the
        traced layer probes; (None, 0, None) when parsing is not the work."""
        return None, 0, None


class Ingest(Workload):
    """Shared body of the two ingest workloads: ``run_pipeline`` into a sink
    root, checked against the oracle's per-(sink, day) lineage counts and
    the exact ``metrics`` sink."""

    force: bool

    def expect(self, oracle) -> None:
        # answers for every day of the corpus; checks pick the days they parse
        self.want_counts = oracle.sink_counts()
        self.want_metrics = oracle.metrics_sink()

    @property
    def records(self) -> int:
        return sum(self.data["rows_per_day"][d] for d in self.checked_days())

    @property
    def input_bytes(self) -> int:
        return sum(self.data["bytes_per_day"][d] for d in self.checked_days())

    def run_id(self, i: int) -> str:
        return f"{self.name}-{i}"

    def run(self, run_id: str, sinks=None) -> dict:
        from stash_log_parser_spark.plans.routing import run_pipeline

        return run_pipeline(
            self.ctx.spark, self.data["corpus"], self.sinks, run_id=run_id, force=self.force, sinks=sinks
        )

    def ops(self, i: int):
        return [("run_pipeline", lambda: self.run(self.run_id(i)))]

    def check(self, name: str, i: int, summary: dict) -> str | None:
        days = self.checked_days()
        return (
            _mismatch("days_parsed", summary.get("days_parsed"), len(days))
            or _mismatch(
                "lineage",
                _lineage(self.sinks, self.run_id(i)),
                {k: v for k, v in self.want_counts.items() if k[1] in days},
            )
            or _mismatch(
                "metrics sink", _metrics_rows(self.sinks, days), [r for r in self.want_metrics if r[0] in days]
            )
        )

    def record_layers(self, name: str, summary: dict) -> None:
        t = summary["timings"]
        files, nbytes = inputs.written_since(self.sinks, self.mark)
        vals = {
            "routing.discover_days_s": t["discover_days"],
            "routing.parse_stage_s": t["parse_stage"],
            "routing.fanout_s": t["total"] - t["discover_days"] - t["parse_stage"],
            "routing.days_parsed": summary["days_parsed"],
            "catalog.files_written": files,
            "catalog.bytes_written": nbytes,
            "catalog.write_amp": nbytes / self.input_bytes,
            "catalog.lineage_files": len(os.listdir(os.path.join(self.sinks, "_lineage"))),
        }
        for sink in summary["sinks"]:
            vals[f"routing.sink.{sink}_s"] = t[f"sink_{sink}"]
        for k, v in vals.items():
            self.layer_samples.setdefault(k, []).append(v)

    def probe_input(self):
        from pyspark.sql import functions as F

        days = sorted(self.checked_days())
        raw = self.ctx.spark.read.parquet(self.data["corpus"])
        raw = raw.filter(F.regexp_extract("source", inputs.DAY_RE, 1).isin(days))
        return raw, self.records, self.sinks


class IngestFull(Ingest):
    """Full reprocess (``force=True``) of a 3-day, day-aligned corpus."""

    name = "ingest_full"
    force = True
    REQUESTS_PER_DAY, DAYS, SHARDS_PER_DAY = 8000, 3, 4

    def generate(self) -> None:
        self.data = inputs.write_log_corpus(
            self.ctx.path("input"), self.REQUESTS_PER_DAY, range(self.DAYS), self.ctx.seed, self.SHARDS_PER_DAY
        )
        self.sinks = self.ctx.path("sinks-0")

    def checked_days(self) -> set[str]:
        return set(self.data["rows_per_day"])

    def before(self, i: int) -> None:
        shutil.rmtree(self.sinks, ignore_errors=True)
        self.sinks = self.ctx.path(f"sinks-{i}")
        self.mark = time.time()


class IngestDaily(Ingest):
    """The daily cron run: a 30-day history is committed during set-up;
    each iteration retracts the newest day's lineage (untimed) and lets
    ``run_pipeline(force=False)`` find, parse and route that one day."""

    name = "ingest_daily"
    force = False
    REQUESTS_PER_DAY, DAYS, SHARDS_PER_DAY = 2000, 30, 2

    def generate(self) -> None:
        self.data = inputs.write_log_corpus(
            self.ctx.path("input"), self.REQUESTS_PER_DAY, range(self.DAYS), self.ctx.seed, self.SHARDS_PER_DAY
        )
        self.sinks = self.ctx.path("sinks")
        self.newest = max(self.data["rows_per_day"])

    @classmethod
    def over(cls, full: Ingest) -> IngestDaily:
        """The daily run on the sink root another ingest workload has
        committed, with that workload's inputs and expected answers."""
        daily = cls(full.ctx)
        daily.data, daily.sinks = full.data, full.sinks
        daily.want_counts, daily.want_metrics = full.want_counts, full.want_metrics
        daily.newest = max(full.data["rows_per_day"])
        return daily

    def checked_days(self) -> set[str]:
        return {self.newest}

    def prepare(self) -> None:
        summary = self.run("history")
        if summary["days_parsed"] != self.DAYS:
            raise RuntimeError(f"history commit parsed {summary['days_parsed']} of {self.DAYS} days")

    def before(self, i: int) -> None:
        from stash_log_parser_spark.plans.routing import SINKS
        from stash_log_parser_spark.sources.catalog import SinkCatalog

        SinkCatalog(self.ctx.spark, self.sinks).retract({(s, self.newest) for s in [STAGE, *SINKS]})
        self.mark = time.time()


class LogQueries(Workload):
    """The read side: the five reference analyses, each re-parsing the
    raw corpus like one ``analyze`` invocation, then the three global
    rollups over daily sinks committed during set-up."""

    name = "log_queries"
    REQUESTS_PER_DAY, DAYS, SHARDS_PER_DAY = IngestFull.REQUESTS_PER_DAY, IngestFull.DAYS, IngestFull.SHARDS_PER_DAY

    def generate(self) -> None:
        self.data = inputs.write_log_corpus(
            self.ctx.path("input"), self.REQUESTS_PER_DAY, range(self.DAYS), self.ctx.seed, self.SHARDS_PER_DAY
        )
        self.sinks = self.ctx.path("sinks")
        self.records = self.data["rows"] * len(ANALYSES)

    def expect(self, oracle) -> None:
        self.want = {a: oracle.query(q) for a, q in (ANALYSES | ROLLUPS).items()}

    def prepare(self) -> None:
        from stash_log_parser_spark.plans.routing import SINKS, run_pipeline

        run_pipeline(
            self.ctx.spark, self.data["corpus"], self.sinks, run_id="setup",
            sinks={s: SINKS[s] for s in ROLLUP_SINKS},
        )

    def ops(self, i: int):
        from stash_log_parser_spark.functions.parse import parse_corpus
        from stash_log_parser_spark.operators import analyses as A
        from stash_log_parser_spark.plans import routing as R
        from stash_log_parser_spark.sources.catalog import SinkCatalog

        spark = self.ctx.spark
        raw = spark.read.parquet(self.data["corpus"])
        catalog = SinkCatalog(spark, self.sinks)
        ops = [(a, lambda a=a: getattr(A, a)(parse_corpus(raw)).collect()) for a in ANALYSES]
        ops += [(r, lambda r=r: getattr(R, r)(catalog).collect()) for r in ROLLUPS]
        return ops

    def check(self, name: str, i: int, rows) -> str | None:
        got = [tuple(r) for r in rows]
        if name == "duration_percentiles":  # the oracle reports 4 decimals
            got = [tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in got]
        return _mismatch(name, inputs.normalize(got), self.want[name])

    def probe_input(self):
        return self.ctx.spark.read.parquet(self.data["corpus"]), self.data["rows"], None


class CorpusOps(Workload):
    """Training-data operator leaves from ``queries()`` over seeded
    documents / embeddings tables. The graph leaf reads the package's
    fixed log fixture (``__spark_entry__.CORPUS``, 3 days x 2000
    requests), which the oracle reads too; it is the one input here
    that does not change with the seed."""

    name = "corpus_ops"
    DOCS, VECTORS = 500, 500

    def generate(self) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__ as E

        tables = self.ctx.path("input", "tables")
        os.makedirs(tables, exist_ok=True)
        self.tables = tables
        self.data = {}  # no generated log corpus: the oracle keeps the fixture path
        n_docs = inputs.write_documents(os.path.join(tables, "documents.parquet"), self.DOCS, self.ctx.seed)
        n_vec = inputs.write_embeddings(os.path.join(tables, "embeddings.parquet"), self.VECTORS, self.ctx.seed)
        size = {"emb": n_vec, "docs": n_docs, "log": pq.read_metadata(E._ensure_corpus()).num_rows}
        self.records = sum(size[leaf.split("_")[0]] for _, leaf in LEAVES)

    def expect(self, oracle) -> None:
        self.want = {
            leaf: inputs.trigram_jaccard_pairs(self.oracle_tables()["documents"])
            if leaf == "docs_minhash_lsh_pairs"
            else oracle.query(leaf)
            for _, leaf in LEAVES
        }

    def oracle_tables(self) -> dict[str, str]:
        return {t: os.path.join(self.tables, f"{t}.parquet") for t in ("documents", "embeddings")}

    def ops(self, i: int):
        import __spark_entry__ as E

        qs = E.queries()
        return [(leaf, lambda leaf=leaf: qs[leaf](self.ctx.spark, self.tables).collect()) for _, leaf in LEAVES]

    def check(self, name: str, i: int, rows) -> str | None:
        return _mismatch(name, inputs.normalize(tuple(r) for r in rows), self.want[name])


WORKLOADS = {w.name: w for w in (IngestFull, IngestDaily, LogQueries, CorpusOps)}
