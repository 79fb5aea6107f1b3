"""Correctness checks on a committed KG, run after the timed region.

Tables are read from TableIO's layout: <work>/<table>/_current names the
committed snapshot id, whose data lives in <work>/<table>/data-<id>/.
"""
import os

import duckdb

HASHED_TABLES = ("nodes", "edges", "mentions_final")


def table_glob(work, table):
    with open(os.path.join(work, table, "_current")) as f:
        snap = f.read().strip()
    return os.path.join(work, table, f"data-{snap}", "**", "*.parquet")


def _scan(path):
    return f"read_parquet('{path}', hive_partitioning=true)"


def content_hash(con, path):
    """Order-independent hash of a table's rows: (row count, sum of row hashes)."""
    n, s = con.execute(f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {_scan(path)} t").fetchone()
    return [int(n), str(s)]


def kg_hashes(con, work):
    return {t: content_hash(con, table_glob(work, t)) for t in HASHED_TABLES}


def span_mismatches(con, work, docs_dir):
    """Docs whose committed chunks, exploded in chunk_index order, do not give
    back the input span sequence (a doc with no chunks counts too)."""
    chunks = _scan(table_glob(work, "chunks"))
    docs = f"read_parquet('{os.path.join(docs_dir, '*.parquet')}')"
    bad, total = con.execute(f"""
        WITH c AS (SELECT doc_id, flatten(list(spans ORDER BY chunk_index)) AS spans
                   FROM {chunks} GROUP BY doc_id),
             d AS (SELECT doc_id, spans FROM {docs})
        SELECT count(*) FILTER (WHERE d.spans IS DISTINCT FROM c.spans), count(*)
        FROM d FULL OUTER JOIN c USING (doc_id)""").fetchone()
    if total == 0:
        raise ValueError("no documents in the input")
    return int(bad)


def triples(con, path):
    return set(con.execute(f"SELECT DISTINCT subj, pred, obj FROM {_scan(path)}").fetchall())


def precision_recall(got, want):
    """Precision and recall of the triple set `got` against `want`."""
    got, want = set(got), set(want)
    hit = len(got & want)
    precision = hit / len(got) if got else (1.0 if not want else 0.0)
    recall = hit / len(want) if want else 1.0
    return precision, recall


def dir_bytes(path, suffix=""):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(suffix))
    return total


def file_count(path):
    return sum(len(files) for _, _, files in os.walk(path))


def connect():
    return duckdb.connect(config={"threads": 2})
