# Reformulated DuckDB oracles for the sf1.0 full-surface rehearsal.
# IDENTICAL semantics to the SparkEntry.contracts brute-force oracles (which
# stay the driver-gate oracles at sf0.01) — only the pair-generation step
# changes from an N^2 cross-compare to the banded/inverted equi-join that
# the semantics themselves define, so the oracle's work follows the same
# growth law the Spark side pays. Each reformulation is validated at
# sf0.01 against the committed Spark outputs before being trusted at sf1.0.

SIG = """
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
         ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END AS s
  FROM toks),
bs AS (
  SELECT doc_id, [('0x' || substring(md5(x), 1, 15))::BIGINT for x in s] AS b
  FROM bs_src),
sig AS (
  SELECT doc_id,
    [list_min([((('0x' || substring(md5('a_' || i::VARCHAR), 1, 15))::BIGINT % 2147483646 + 1)
                * (h % 2147483647)
                + ('0x' || substring(md5('b_' || i::VARCHAR), 1, 15))::BIGINT % 2147483647)
               % 2147483647
               for h in b])
     for i in range(0, 32)] AS sg
  FROM bs),
bands AS (
  SELECT doc_id, bb, array_to_string(sg[bb*4+1 : bb*4+4], ',') AS bkey
  FROM sig, range(0, 8) r(bb)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.bb = b.bb AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
"""

def _sub(s, needle, repl):
    """str.replace that fails loudly when the needle doesn't occur exactly
    once — a silently-missed needle would yield syntactically-valid but
    semantically-wrong oracle SQL that only surfaces as a gate mismatch."""
    n = s.count(needle)
    assert n == 1, f"needle {needle!r} occurs {n} times, expected exactly 1"
    return s.replace(needle, repl, 1)

# bs reads from bs_src so corpus_prepare can swap the doc source; default:
SIG_DOCS = _sub(SIG, "FROM bs_src", "FROM sh")

MINHASH = f"""WITH {SIG_DOCS}
SELECT c.doc_a, c.doc_b,
       len([i for i in range(1, 33) if a.sg[i] = b.sg[i]])::DOUBLE / 32.0 AS est_jaccard
FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b"""

INCREMENTAL = f"""WITH {SIG_DOCS}
SELECT c.doc_a, c.doc_b,
       len([i for i in range(1, 33) if a.sg[i] = b.sg[i]])::DOUBLE / 32.0 AS est_jaccard
FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
WHERE c.doc_a % 5 = 0 OR c.doc_b % 5 = 0"""

CLUSTERS = f"""WITH RECURSIVE {SIG_DOCS},
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand),
walk(id, lab) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, w.lab FROM edges e JOIN walk w ON w.id = e.t)
SELECT id AS doc_id, MIN(lab) AS cluster_id, (id = MIN(lab)) AS is_canonical
FROM walk GROUP BY id"""

SIG_EN = _sub(_sub(SIG, "FROM bs_src", "FROM sh"),
              "FROM documents)", "FROM sv)")
CORPUS_PREPARE = f"""WITH RECURSIVE en AS (
  SELECT doc_id, text FROM documents WHERE lang = 'en'),
ex0 AS (SELECT min(doc_id) AS doc_id FROM en GROUP BY md5(text)),
sv AS (SELECT en.doc_id, en.text FROM en JOIN ex0 USING (doc_id)),
{SIG_EN.lstrip()},
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand),
walk(id, lab) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, w.lab FROM edges e JOIN walk w ON w.id = e.t),
cl AS (SELECT id, MIN(lab) AS cid FROM walk GROUP BY id),
kept AS (
  SELECT sv.doc_id FROM sv
  WHERE sv.doc_id NOT IN (SELECT id FROM cl WHERE id <> cid))
SELECT doc_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id,
        ('0x' || substring(md5('split_' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
      FROM kept)"""

CONTAINMENT = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
         ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END) AS s
  FROM toks),
ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id <> b.doc_id GROUP BY 1, 2),
n AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh)
SELECT doc_a, doc_b, shared, n_a, n_b FROM (
  SELECT doc_a, doc_b, shared, na.n AS n_a, nb.n AS n_b
  FROM pairs JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id)
WHERE shared * 1000 >= 600 * n_a"""

JACCARD = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
         ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END) AS s
  FROM toks),
ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
          FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
n AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b, round(shared::DOUBLE / (na.n + nb.n - shared), 6) AS jaccard
  FROM pairs JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id)
WHERE jaccard >= 0.5"""

REFORMULATED = {
    "dedup_jaccard": JACCARD,
    "dedup_containment": CONTAINMENT,
    "dedup_minhash": MINHASH,
    "dedup_incremental": INCREMENTAL,
    "dedup_clusters": CLUSTERS,
    "corpus_prepare": CORPUS_PREPARE,
}
