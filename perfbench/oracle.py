"""Expected output digests, computed in DuckDB from the same parquet inputs.

A digest is a small dict of portable aggregates (row counts, matched
counts and integer sums) that the Spark side computes with the same
names in ``workloads.py``. Both engines compute them from the generated
files alone, so a digest match means the engine produced the same
multiset of rows on every column the digest covers.
"""

from __future__ import annotations

import duckdb

# One SELECT per workload part; every column is a digest entry.
_PIT_TRAIN = """
WITH f AS (
  SELECT doc_id, event_timestamp AS fts, n_tok, tokens, source FROM features
  QUALIFY row_number() OVER (PARTITION BY doc_id, event_timestamp ORDER BY created DESC) = 1
), j AS MATERIALIZED (
  SELECT s.doc_id, s.event_timestamp AS ts, f.fts, f.n_tok, f.tokens, f.source
  FROM spine s ASOF LEFT JOIN f ON s.doc_id = f.doc_id AND s.event_timestamp >= f.fts
), m AS (
  SELECT doc_id, ts, CAST(epoch(ts) AS BIGINT) AS es, n_tok, tokens, source
  FROM j WHERE fts >= ts - INTERVAL 3 DAY
), w AS (
  SELECT *,
    lag(n_tok) OVER (PARTITION BY doc_id ORDER BY ts) AS lg,
    lead(n_tok) OVER (PARTITION BY doc_id ORDER BY ts) AS ld,
    sum(n_tok) OVER (PARTITION BY doc_id ORDER BY es
                     RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS roll,
    CASE WHEN es - lag(es) OVER (PARTITION BY doc_id ORDER BY ts) <= 21600
         THEN 0 ELSE 1 END AS ns
  FROM m
), s AS (
  SELECT *, sum(ns) OVER (PARTITION BY doc_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 AS sid
  FROM w
)
SELECT count(*) AS rows, sum(n_tok) AS n_tok, sum(tokens[1] + tokens[-1]) AS tok_ends,
       sum(lg) AS lag, sum(ld) AS lead, sum(roll) AS rolling, sum(sid) AS session,
       sum(length(source)) AS src_len
FROM s
"""

_RETRIEVAL = """
WITH tf AS (
  SELECT doc_id, event_timestamp AS fts, n_tok, source FROM tokens
  QUALIFY row_number() OVER (PARTITION BY doc_id, event_timestamp ORDER BY created DESC) = 1
), sf AS (
  SELECT doc_id, to_timestamp((CAST(epoch(event_timestamp) AS BIGINT) // 86400 + 1) * 86400) AS fts,
         sum(view_count) AS sv, max(view_count) AS mv
  FROM stats GROUP BY 1, 2
), gf AS (
  SELECT event_timestamp AS fts, total_docs FROM global
  QUALIFY row_number() OVER (PARTITION BY event_timestamp ORDER BY created DESC) = 1
), tj AS MATERIALIZED (
  SELECT s.event_timestamp AS ts, f.* FROM spine s
  ASOF LEFT JOIN tf f ON s.doc_id = f.doc_id AND s.event_timestamp >= f.fts
), aj AS MATERIALIZED (
  SELECT s.event_timestamp AS ts, f.* FROM spine s
  ASOF LEFT JOIN sf f ON s.doc_id = f.doc_id AND s.event_timestamp >= f.fts
), gj AS MATERIALIZED (
  SELECT s.event_timestamp AS ts, f.* FROM spine s
  ASOF LEFT JOIN gf f ON s.event_timestamp >= f.fts
), t AS (SELECT * FROM tj WHERE fts >= ts - INTERVAL 3 DAY),
a AS (SELECT * FROM aj WHERE fts >= ts - INTERVAL 2 DAY),
g AS (SELECT * FROM gj WHERE fts >= ts - INTERVAL 2 DAY)
SELECT (SELECT count(*) FROM spine) AS rows,
       (SELECT count(*) FROM t) AS tok_matched, (SELECT sum(n_tok) FROM t) AS n_tok,
       (SELECT sum(length(source)) FROM t) AS src_len,
       (SELECT count(*) FROM a) AS stats_matched, (SELECT sum(sv) FROM a) AS stat_sum,
       (SELECT sum(mv) FROM a) AS stat_max,
       (SELECT count(*) FROM g) AS glob_matched, (SELECT sum(total_docs) FROM g) AS glob_sum
"""

_NOW = "2024-01-16 00:00:00+00"  # serving time: end of the 15th day
_MATERIALIZE_SERVE = f"""
WITH dayly AS (
  SELECT * FROM tokens
  QUALIFY row_number() OVER (PARTITION BY doc_id, CAST(event_timestamp AS DATE)
                             ORDER BY event_timestamp DESC, created DESC) = 1
), latest AS (
  SELECT * FROM tokens
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY event_timestamp DESC, created DESC) = 1
), served AS (
  SELECT l.n_tok FROM lookups q JOIN latest l ON q.doc_id = l.doc_id
  WHERE l.event_timestamp >= TIMESTAMPTZ '{_NOW}' - INTERVAL 3 DAY
)
SELECT (SELECT count(*) FROM dayly) AS mat_rows, (SELECT sum(n_tok) FROM dayly) AS mat_n_tok,
       (SELECT sum(tokens[1] + tokens[-1]) FROM dayly) AS mat_tok_ends,
       (SELECT count(DISTINCT CAST(event_timestamp AS DATE)) FROM tokens) AS days,
       (SELECT count(*) FROM latest) AS online_rows,
       (SELECT count(*) FROM lookups) AS served_rows,
       (SELECT count(*) FROM served) AS served_matched, (SELECT sum(n_tok) FROM served) AS served_n_tok
"""


# Dedup groups over the verified LSH pairs: the transitive closure of
# the repository's `dedup_groups` oracle, min id as the representative.
_GROUPS = """
WITH RECURSIVE sym AS (
  SELECT id_a u, id_b v FROM lsh_pairs UNION SELECT id_b, id_a FROM lsh_pairs
), reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.id
), comp AS (
  SELECT id, min(r) AS component FROM reach GROUP BY id
), g AS (
  SELECT coalesce(c.component, d.doc_id) AS group_id, coalesce(c.component, d.doc_id) = d.doc_id AS keep
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
)
SELECT count(DISTINCT group_id) AS groups, count(*) FILTER (WHERE keep) AS kept,
       sum(group_id) AS group_sum
FROM g
"""


def _curation(con) -> dict:
    """Reuses the repository's DuckDB oracles for the same operators:
    token-run scrubbing, verified LSH pairs and the dedup groups over
    them; checked by the traced run, which alone runs them."""
    import __spark_entry__ as entry

    for into, sql in (("token_runs", entry._dedup_token_runs_oracle(16)),
                      ("lsh_pairs", entry._lsh_dup_pairs_oracle())):
        con.execute(f"CREATE OR REPLACE TEMP TABLE {into} AS {sql}")
    return {
        **_query(con, """SELECT count(*) AS docs, sum(n_tok_in) AS n_tok_in,
            sum(n_dup_spans) AS n_dup_spans, sum(n_removed_tokens) AS n_removed,
            sum(CAST('0x' || substr(clean_ids_md5, 1, 8) AS BIGINT)) AS md5_sum FROM token_runs"""),
        **_query(con, """SELECT count(*) AS pairs, sum(id_a + id_b) AS pair_ids,
            sum(jaccard) AS jaccard FROM lsh_pairs"""),
        **_query(con, _GROUPS),
    }


def _query(con, sql: str) -> dict:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    row = cur.fetchone()
    return {n: (v if isinstance(v, float) else int(v or 0)) for n, v in zip(names, row)}


def digests(workload: str, paths: dict[str, str], traced: bool = True) -> tuple[dict, dict | None]:
    """Expected digests of ``workload`` over the parquet tables in
    ``paths``: one for every iteration, one for the traced-only spans
    (None unless ``traced``: curation's oracles take seconds)."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 2")
        con.execute("SET enable_progress_bar = false")
        for name, path in paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        if workload == "pit_train_uniform":
            return _query(con, _PIT_TRAIN), _curation(con) if traced else None
        return {**_query(con, _RETRIEVAL), **_query(con, _MATERIALIZE_SERVE)}, {}
    finally:
        con.close()


def digest(workload: str, paths: dict[str, str]) -> dict:
    """Expected per-iteration digest of ``workload``."""
    return digests(workload, paths, traced=False)[0]


def mismatches(expected: dict, got: dict) -> list[str]:
    """Digest entries that differ: integers exactly, floats to 1e-9
    relative (a float sum's last digits depend on summation order)."""
    bad = []
    for k, want in expected.items():
        have = got.get(k)
        if isinstance(want, float) or isinstance(have, float):
            ok = have is not None and abs(float(have) - float(want)) <= 1e-9 * max(1.0, abs(float(want)))
        else:
            ok = have == want
        if not ok:
            bad.append(f"{k}: expected {want}, got {have}")
    return bad
