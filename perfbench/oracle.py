"""DuckDB replay of the q77 curation chain on a generated corpus.

The engine's oracle SQL for q77 (written next to the corpus by the driver)
ends in a per-language stats SELECT over its `final` survivor set. The
check compares the engine's survivor ids and stats with it: exactly, but
for the near-duplicates the engine's MinHash-LSH missed, which a recall
floor bounds (see `check_curation`). Digests are SHA-256 over the
driver's canonical text form.
"""
import hashlib
import re

import duckdb

STATS_SELECT = "\nSELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs"
# The oracle's near-dup step compares every pair of docs (quadratic: over
# ten minutes at 5k docs). Pairs sharing no shingle have Jaccard 0, so
# joining on shared shingles and counting them gives the same pair set.
BRUTE_NEAR_DUP = (
    "nd AS (SELECT DISTINCT b.doc_id FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id\n"
    "  WHERE len(list_intersect(a.sg, b.sg)) * 2.0 >= len(list_distinct(list_concat(a.sg, b.sg)))),")
JOINED_NEAR_DUP = (
    "shx AS (SELECT doc_id, len(sg) AS n, unnest(sg) AS g FROM sh3),\n"
    "ndp AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter,\n"
    "    any_value(a.n) AS na, any_value(b.n) AS nb\n"
    "  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),\n"
    "nd AS (SELECT DISTINCT db AS doc_id FROM ndp WHERE inter * 2.0 >= na + nb - inter),")


def _sha(text):
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _prepare(corpus_path, sql_path):
    """The oracle SQL up to its final SELECT, with the near-dup step
    rewritten, and a DuckDB connection with the corpus as `documents`."""
    with open(sql_path, encoding="utf-8") as f:
        sql = f.read()
    if sql.count(BRUTE_NEAR_DUP) != 1:
        raise ValueError("q77 oracle SQL no longer has the brute near-dup step")
    sql = sql.replace(BRUTE_NEAR_DUP, JOINED_NEAR_DUP)
    # DuckDB otherwise re-plans each CTE per reference (30 s instead of 2 s)
    sql = re.sub(r"(?m)^(WITH )?(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)
    cut = sql.rfind(STATS_SELECT)
    tail = sql[cut:]
    if cut < 0 or tail.count("FROM final GROUP BY") != 1:
        raise ValueError("q77 oracle SQL no longer ends in the per-language stats SELECT")
    for cte in ("w", "evalg", "k4", "nd", "final"):  # the steps STAGE4 reads
        if f"{cte} AS MATERIALIZED (" not in sql[:cut]:
            raise ValueError(f"q77 oracle SQL no longer has the {cte} step")
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    path = corpus_path.replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con, sql[:cut]


def digests(ids, stats):
    stats_text = ";".join(sorted("|".join(str(v) for v in row) for row in stats))
    return _sha(",".join(str(i) for i in ids)), _sha(stats_text)


# Every stage-4 survivor (k4) with its language, its words and the two
# per-document verdicts that remove it later: the brute-force near-dup
# verdict (nd) and contamination against the eval texts, tested here on
# all of k4 (the oracle tests only near-dup survivors; the test is per
# document, so a survivor's verdict is the same).
STAGE4 = """
cont4 AS (SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(list_distinct(
      [array_to_string(ws3[i:i+4], ' ') for i in range(1, len(ws3) - 3)])) AS sg
    FROM k4 WHERE len(ws3) >= 5) t WHERE sg IN (SELECT sg FROM evalg))
SELECT k4.doc_id, w.lang, len(k4.ws3) AS n_words,
  k4.doc_id IN (SELECT doc_id FROM nd) AS near_dup,
  k4.doc_id IN (SELECT doc_id FROM cont4) AS contaminated,
  k4.doc_id IN (SELECT doc_id FROM final) AS survives
FROM k4 JOIN w ON k4.doc_id = w.doc_id"""


def check_curation(corpus_path, sql_path, survivors_path, survivor_digest, stats_digest,
                   recall_floor):
    """Checks the engine's survivors of one curation pass against the q77
    oracle; returns (ok, facts).

    Every stage but the near-dup one is exact in both, so the survivors
    must equal the oracle's except for near-duplicates the engine's
    MinHash-LSH missed: the engine's verify step is exact (it never drops
    a pair below the Jaccard threshold), but banding is a sampling of the
    shingle sets, so a true pair can fall in no shared bucket. Hence:
    every oracle survivor survives; every extra survivor is an oracle
    near-dup drop that decontamination keeps; the share of those drops
    the engine made (near-dup recall) reaches `recall_floor`; and the
    engine's per-language stats equal the stats of its own survivors
    recomputed here from the oracle's stage-4 words.
    """
    with open(survivors_path, encoding="utf-8") as f:
        engine = [int(x) for x in f.read().split(",") if x]
    con, body = _prepare(corpus_path, sql_path)
    try:
        con.execute("CREATE TEMP TABLE stage4 AS " + body.rstrip() + "," + STAGE4)
        rows = con.execute(
            "SELECT doc_id, lang, n_words, near_dup, contaminated, survives FROM stage4").fetchall()
    finally:
        con.close()
    return judge(rows, engine, survivor_digest, stats_digest, recall_floor)


def judge(rows, engine, survivor_digest, stats_digest, recall_floor):
    """The verdict of `check_curation` from the oracle's stage-4 rows
    (doc_id, lang, n_words, near_dup, contaminated, survives) and the
    engine's survivor ids in its own order."""
    by_id = {r[0]: r for r in rows}
    oracle_ids = {r[0] for r in rows if r[5]}
    droppable = {r[0] for r in rows if r[3] and not r[4]}
    got = set(engine)
    extra = got - oracle_ids
    missing = oracle_ids - got
    recall = 1.0 - len(extra) / len(droppable) if droppable else 1.0
    stats = {}
    for i in got & set(by_id):
        _, lang, n, _, _, _ = by_id[i]
        s = stats.setdefault(lang, [lang, 0, 0, i, i])
        s[1] += 1
        s[2] += n
        s[3] = min(s[3], i)
        s[4] = max(s[4], i)
    ok = (not missing and extra <= droppable and recall >= recall_floor
          and engine == sorted(got)
          and digests(engine, stats.values()) == (survivor_digest, stats_digest))
    return ok, {"near_dup_recall": recall, "near_dup_missed": sorted(extra),
                "oracle_survivors": len(oracle_ids), "oracle_missing": sorted(missing)[:20]}
