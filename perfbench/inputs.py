"""Seeded inputs for the benchmark, and the independent answers to check against.

Everything here runs before the Spark session exists: the program under
test only ever sees the parquet files written by these functions. The
same seed always gives byte-identical rows.

* ``write_log_corpus``: the tokenized access-log corpus, day by day,
  produced by the package's own per-day simulator (the one
  ``corpus.generate_spark`` runs inside ``mapInPandas``), written
  straight from pyarrow as day-aligned shards. Going through Spark would
  add ~12 s of job and Python-worker start-up to every run for the same
  rows. The decoded ``line`` text goes to a separate file that only the
  DuckDB oracle reads.
* ``write_documents`` / ``write_embeddings``: tables with the shape of
  the ``documents`` / ``embeddings`` sf tables (30-word vocabulary,
  10-99 words per doc, 5 % near-duplicates marked ``dup``; unit 64-d
  vectors around 10 weak clusters).
* ``Oracle``: DuckDB over the generator's lines, reusing the package's
  ``_PARSE_CTE`` re-parse and its ``oracle_sql()`` entries with the
  corpus path swapped for the benchmark's own (left alone when a
  workload generates no log corpus).
"""

from __future__ import annotations

import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark join stream small order merge column group customer part "
    "value window big scan table vector filter row batch key agg data line "
    "hash sort slow fast query"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [43, 15, 14, 14, 14]
DAY_RE = r"(\d{4}-\d{2}-\d{2})"


def write_log_corpus(
    root: str, n_requests_per_day: int, days: range, seed: int, shards_per_day: int
) -> dict:
    """Write ``days`` of the access-log corpus under ``root``.

    ``root/corpus`` holds the pipeline input (doc_id, tokens, n_tok,
    source) as ``shards_per_day`` files per day; ``root/lines.parquet``
    holds (doc_id, source, line) for the oracle. Returns row and byte
    totals and the per-day row counts."""
    from stash_log_parser_spark.corpus import _arrow_schema, _day_rows

    corpus = os.path.join(root, "corpus")
    os.makedirs(corpus, exist_ok=True)
    lines = []
    rows_per_day, bytes_per_day = {}, {}
    for d in days:
        cols = _day_rows(d, n_requests_per_day, seed)
        day = cols["day"][0]
        t = pa.table(cols, schema=_arrow_schema())
        lines.append(t.select(["doc_id", "source", "line"]))
        t = t.drop_columns(["line", "day"])
        n = t.num_rows
        rows_per_day[day] = n
        bytes_per_day[day] = 0
        for s in range(shards_per_day):
            lo, hi = s * n // shards_per_day, (s + 1) * n // shards_per_day
            shard = os.path.join(corpus, f"part-{day}-{s:02d}.parquet")
            pq.write_table(t.slice(lo, hi - lo), shard)
            bytes_per_day[day] += os.path.getsize(shard)
    lines_path = os.path.join(root, "lines.parquet")
    pq.write_table(pa.concat_tables(lines), lines_path)
    return {
        "corpus": corpus,
        "lines": lines_path,
        "rows": sum(rows_per_day.values()),
        "rows_per_day": rows_per_day,
        "bytes_per_day": bytes_per_day,
    }


def write_documents(path: str, n: int, seed: int) -> int:
    rng = random.Random(f"{seed}/documents")
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    table = pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(table, path)
    return n


def write_embeddings(path: str, n: int, seed: int, dim: int = 64, n_labels: int = 10) -> int:
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n)
    vecs = rng.normal(size=(n, dim)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )
    pq.write_table(table, path)
    return n


def trigram_jaccard_pairs(documents_path: str, threshold: float = 0.2) -> list:
    """Every document pair whose word-trigram Jaccard reaches ``threshold``,
    by brute force, quantized like ``oracle_sql()["docs_minhash_lsh_pairs"]``.
    The same answer as that DuckDB entry, which takes ~10 s on 500 docs."""
    import re

    docs = pq.read_table(documents_path, columns=["doc_id", "text"]).to_pylist()
    sh = []
    for d in docs:
        w = re.split(r"\s+", d["text"].strip().lower())
        sh.append((d["doc_id"], {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}))
    out = []
    for i, (a, sa) in enumerate(sh):
        for b, sb in sh[i + 1 :]:
            inter = len(sa & sb)
            if inter:
                j = math.floor(inter / max(len(sa | sb), 1) * 1000000 + 0.5) / 1000000
                if j >= threshold:
                    out.append((min(a, b), max(a, b), j))
    return normalize(out)


def written_since(root: str, since: float) -> tuple[int, int]:
    """(files, bytes) under ``root`` modified at or after ``since``."""
    files = nbytes = 0
    for d, _, names in os.walk(root):
        for name in names:
            st = os.stat(os.path.join(d, name))
            if st.st_mtime >= since:
                files += 1
                nbytes += st.st_size
    return files, nbytes


def normalize(rows) -> list:
    """Order-insensitive, engine-neutral form of a result: floats rounded
    to 6 decimals, numpy/Decimal scalars as Python numbers, NaN as text."""

    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return tuple(cell(x) for x in v)
        if hasattr(v, "item"):
            v = v.item()
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6) + 0.0
        if hasattr(v, "is_finite"):  # Decimal
            return round(float(v), 6) + 0.0
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


# Per-(sink, file day) row counts of one pipeline run, written against the
# re-parse CTE. Each branch mirrors one routed sink's grouping key and
# filter (plans/routing.py SINKS); ``parsed_stage`` holds every line.
_SINK_COUNTS = r"""
, f AS (
  SELECT *, substr(regexp_extract(source, '(\d{4}-\d{2}-\d{2})', 1), 1, 10) AS file_day,
    CASE WHEN duration_ms < 32 THEN duration_ms
         ELSE CAST(floor(duration_ms / power(2, length(bin(duration_ms)) - 5))
                   * power(2, length(bin(duration_ms)) - 5) AS BIGINT) END AS bucket
  FROM parsed)
SELECT 'parsed_stage' AS sink, file_day AS day, count(*) AS n FROM f GROUP BY 2
UNION ALL SELECT 'metrics', file_day, count(DISTINCT source) FROM f GROUP BY 2
UNION ALL SELECT 'git_operations', file_day, count(*)
  FROM (SELECT DISTINCT file_day, hour_str FROM f WHERE is_parsed AND op_type IS NOT NULL) GROUP BY 2
UNION ALL SELECT 'protocol_by_hour', file_day, count(*)
  FROM (SELECT DISTINCT file_day, hour_str FROM f WHERE is_parsed AND op_type IS NOT NULL) GROUP BY 2
UNION ALL SELECT 'concurrency_by_hour', file_day, count(*)
  FROM (SELECT DISTINCT file_day, hour_str FROM f WHERE is_parsed AND req_dir IN ('i', 'o')) GROUP BY 2
UNION ALL SELECT 'protocol_counts_daily', file_day, count(*)
  FROM (SELECT DISTINCT file_day, protocol FROM f WHERE is_parsed) GROUP BY 2
UNION ALL SELECT 'repository_stats_daily', file_day, count(*)
  FROM (SELECT DISTINCT file_day, repo_slug FROM f
        WHERE op_type IS NOT NULL AND repo_slug IS NOT NULL) GROUP BY 2
UNION ALL SELECT 'request_durations', file_day, count(*) FROM f
  WHERE op_type IS NOT NULL AND duration_ms IS NOT NULL GROUP BY 2
UNION ALL SELECT 'duration_hist_daily', file_day, count(*)
  FROM (SELECT DISTINCT file_day, op_type, bucket FROM f
        WHERE is_parsed AND op_type IS NOT NULL AND duration_ms IS NOT NULL) GROUP BY 2
UNION ALL SELECT 'pairing_daily', file_day, 1
  FROM (SELECT DISTINCT file_day FROM f WHERE is_parsed AND req_dir IN ('i', 'o'))
"""


class Oracle:
    """DuckDB answers over the generator's lines (and any extra tables)."""

    def __init__(self, entry, lines_path: str | None, tables: dict[str, str] | None = None):
        import duckdb

        self._entry = entry
        self._lines = lines_path
        self._oracle_sql = None
        self._con = duckdb.connect()
        for name, path in (tables or {}).items():
            self._con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def _sql(self, sql: str) -> str:
        """Point the package's fixture corpus at the generated lines, if any."""
        if self._lines is None:
            return sql
        return sql.replace(f"read_parquet('{self._entry.CORPUS}')", f"read_parquet('{self._lines}')")

    def rows(self, sql: str) -> list:
        return self._con.execute(self._sql(sql)).fetchall()

    def query(self, name: str) -> list:
        """Normalized answer of the package's ``oracle_sql()[name]``."""
        if self._oracle_sql is None:
            self._oracle_sql = self._entry.oracle_sql()
        return normalize(self.rows(self._oracle_sql[name]))

    def sink_counts(self) -> dict[tuple[str, str], int]:
        """Expected lineage rows per (sink, file day) of one full run."""
        rows = self.rows(self._entry._PARSE_CTE + _SINK_COUNTS)
        return {(s, d): int(n) for s, d, n in rows}

    def metrics_sink(self) -> list:
        """Expected content of the ``metrics`` sink (day, source, counts)."""
        return self.query("log_pipeline_e2e")

    def close(self) -> None:
        self._con.close()
