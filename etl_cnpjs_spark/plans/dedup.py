"""Dedup plan family: detection → clustering → canonical corpus, over
`documents`, plus record linkage over entity names and embedding-space
near-duplicates.

Pair detectors — output (i, j, score) for pairs i<j:
- dedup_ngram_jaccard — exact 3-gram-shingle Jaccard ≥ 0.8 via
  posting-list self-join (hashed keys). The exact baseline and the
  oracle for itself and MinHash. At 100 TB its posting lists explode on
  common shingles — oracle-grade, not the production path.
- dedup_minhash — MinHash(16)+LSH(8 bands × 2) candidates,
  exact-Jaccard verified ≥ 0.8. Verification makes output ⊆ exact;
  P(miss | j ≥ 0.8) = (1-0.64)^8 ≈ 3e-4 per pair — empirically
  exhaustive on this corpus (tests assert equality with exact), so it
  shares the exact oracle. Linear in docs × bands — the scale path.
- dedup_simhash — frequency-weighted 64-bit SimHash, 6×10-bit bands
  (pigeonhole-complete for hamming ≤ 5). md5-half token hash → full
  all-pairs oracle (completeness makes banded ≡ all-pairs).
- dedup_fuzzy_names — edit-distance linkage with three stacked blocking
  passes (prefix + sorted neighborhood + reversed-key neighborhood).
- dedup_embedding_* / dedup_semantic — cosine near-duplicates over
  `embeddings` (exact, LSH-banded, and SemDeDup cluster pruning).

From pairs to a deduplicated corpus:
- dedup_cluster — connected components over near-dup pairs
  (operators/graph.py), recursive-CTE oracle.
- dedup_canonical — one surviving doc per component; the operator a
  pipeline actually ships.

Shingle, pair, component and banded frames are session stagers
(etl_cnpjs_spark/staging.py) — several plans share each; see _doc_shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.functions.text import shingles, tokens
from etl_cnpjs_spark.operators.dedup import (
    candidate_pairs,
    exact_jaccard,
    jaccard_pairs,
    minhash_band_keys,
    posting_intersections,
    simhash_signatures,
)
from etl_cnpjs_spark.operators.graph import connected_components
from etl_cnpjs_spark.operators.relational import dedup_keep_latest
from etl_cnpjs_spark.operators.similarity import (
    all_pairs_cosine_blocked,
    embedding_lsh_pairs,
    sql_cosine,
)
from etl_cnpjs_spark.plans.registry import register
from etl_cnpjs_spark.plans.similarity import (
    _SQL_ASSIGN_CTES,
    _SQL_VECS,
    NEAR_DUP_TAU,
    SEMANTIC_TAU,
    _label_centroid_assignment,
    _vecs,
)
from etl_cnpjs_spark.staging import staged


# --- dedup (north_star) ----------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate FROM lineitem
    """,
    tags=("north_star", "dedup"),
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact whole-row dedup = DISTINCT: hash aggregate with map-side
    partial — one shuffle of the already-reduced keys (north_star)."""
    from etl_cnpjs_spark.operators.relational import dedup_exact

    return dedup_exact(
        table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus", "l_shipdate")
    )


@register(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
    tags=("north_star", "dedup"),
)
def dedup_keep_latest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup, deterministic survivor = latest event per user
    (tiebreak on event_id). Single shuffle on the key — no self-join."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    return dedup_keep_latest(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")])


JACCARD_THRESHOLD = 0.8

# DuckDB twin of functions/text.py::shingles (3-gram, distinct, guarded).
_SQL_SHINGLES = r"""
  WITH d AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
  ), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, 0)),
             i -> array_to_string(toks[i:i+2], ' '))) AS shingles
    FROM d
  )
"""

# Shared (i, j) jaccard-pair CTE chain: shingles → postings → posting
# self-join → threshold filter, ending in a CTE named `pairs`. Reused by
# corpus._ORACLE and sql_recursive_closure so the pairing semantics have
# ONE textual definition across oracles.
_SQL_PAIRS = (
    _SQL_SHINGLES
    + f"""
  , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  p0 AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
         FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
  pairs AS (SELECT i, j
            FROM p0 JOIN sz s1 ON p0.i = s1.doc_id JOIN sz s2 ON p0.j = s2.doc_id
            WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD})
"""
)

_SQL_EXACT_JACCARD = (
    _SQL_SHINGLES
    + f"""
  , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  p AS (
    SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
    FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  )
  SELECT i, j, inter / (s1.n + s2.n - inter) AS jaccard
  FROM p JOIN sz s1 ON p.i = s1.doc_id JOIN sz s2 ON p.j = s2.doc_id
  WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}
"""
)


@staged("shingles")
def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) with non-empty distinct 3-gram shingles, materialized
    via localCheckpoint: every dedup plan references this frame from 2-4
    branches of a self-join, and without a barrier Spark re-tokenizes and
    re-shingles the corpus once per branch (higher-order exprs are outside
    codegen/CSE). Staged per (session, sf_dir) because four plans
    (ngram/minhash/cluster/canonical) start from the same frame — one
    shingle job per session instead of four. At cluster scale the same
    role is played by persist(DISK_ONLY) or a staged parquet write."""
    d = table(spark, sf_dir, "documents", parallel=True)
    return (
        d.select("doc_id", shingles(tokens(F.col("text"))).alias("sh"))
        .filter(F.size("sh") > 0)
        .localCheckpoint()
    )


@staged("pairs")
def _exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged exact-Jaccard pairs: five consumers (ngram plan, cluster/
    canonical edges, corpus_curate's near-dup drop,
    sql_recursive_closure's edge list) otherwise re-run the posting
    self-join each."""
    return jaccard_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "sh", JACCARD_THRESHOLD
    ).localCheckpoint()


@register("dedup_ngram_jaccard", oracle=_SQL_EXACT_JACCARD, tags=("north_star", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard pairs via posting-list self-join: explode
    distinct shingles, equi-join on shingle (the one shuffle, keyed by
    shingle), count intersections per pair, filter ≥ 0.8. Integer/integer
    division gives identical doubles in both engines — no rounding."""
    # posting join on xxhash64(shingle) longs, not the ~25-byte shingle
    # strings: same postings, ~3× smaller shuffle keys (collision
    # P ≈ (docs·shingles)²/2⁶⁴ ≈ 1e-9 at sf0.1; the oracle's string join
    # would catch one).
    return _exact_pairs(spark, sf_dir)


@register("dedup_minhash", oracle=_SQL_EXACT_JACCARD, tags=("north_star", "dedup", "lsh"))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(8×2) candidates → exact-Jaccard verify ≥ 0.8.

    Signature and band keys are per-row higher-order expressions (no
    explode until banding, no Python). Oracle = the exact-Jaccard SQL:
    verification guarantees output ⊆ exact, and banding recall on this
    corpus is 100% (asserted by tests/test_dedup_recall.py)."""
    docs = _doc_shingles(spark, sf_dir)
    # Second barrier after the signature: candidate_pairs self-joins this
    # frame (two branches), so an unmaterialized bk would run the 16
    # min-hash array passes twice.
    signed = docs.select(
        "doc_id",
        "sh",
        minhash_band_keys("sh", bands=8, rows=2).alias("bk"),
    ).localCheckpoint()
    cands = candidate_pairs(signed, "doc_id", "bk")
    verified = exact_jaccard(cands, signed, "doc_id", "sh")
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# Dedup clustering: near-dup pairs → connected components → one canonical
# doc per cluster. The oracle re-derives components with a recursive CTE
# (transitive closure + min reachable id) over the same exact-Jaccard pairs.
_SQL_CLUSTER = (
    "WITH RECURSIVE "
    + _SQL_SHINGLES.strip().removeprefix("WITH")
    + f"""
  , ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  p AS (
    SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT i, j FROM p
    JOIN sz s1 ON p.i = s1.doc_id JOIN sz s2 ON p.j = s2.doc_id
    WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}
  ),
  edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
  reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
  ),
  comp AS (SELECT a, least(a, min(b)) AS component FROM reach GROUP BY a)
  SELECT d2.doc_id, coalesce(c.component, d2.doc_id) AS component
  FROM documents d2 LEFT JOIN comp c ON d2.doc_id = c.a
"""
)


@register("dedup_cluster", oracle=_SQL_CLUSTER, tags=("north_star", "dedup", "graph"))
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: exact-Jaccard near-dup pairs → connected
    components (operators/graph.py min-label loop) → (doc_id, component)
    for EVERY document; component = min doc_id of the near-dup cluster,
    singletons keep their own id. Downstream dedup keeps
    doc_id == component — one canonical doc per cluster, the step that
    turns pair detection into an actual corpus dedup."""
    return _cc_labels(spark, sf_dir).select(F.col("node").alias("doc_id"), "component")


@staged("labels")
def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) over every document, staged so dedup_canonical
    and the corpus family reuse one connected-components run."""
    pairs = _exact_pairs(spark, sf_dir)
    return connected_components(
        table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node")),
        pairs.select(F.col("i").alias("src"), F.col("j").alias("dst")),
    )


# Canonical-corpus step: keep exactly one doc per component (the min
# doc_id), i.e. the actual OUTPUT of dedup — the reference never gets
# here; a training pipeline always does.
_SQL_CANONICAL = (
    _SQL_CLUSTER.replace(
        "SELECT d2.doc_id, coalesce(c.component, d2.doc_id) AS component\n  FROM documents d2 LEFT JOIN comp c ON d2.doc_id = c.a",
        "SELECT d2.doc_id, d2.lang, len(d2.text) AS text_len\n"
        "  FROM documents d2 LEFT JOIN comp c ON d2.doc_id = c.a\n"
        "  WHERE coalesce(c.component, d2.doc_id) = d2.doc_id",
    )
)


@register("dedup_canonical", oracle=_SQL_CANONICAL, tags=("north_star", "dedup"))
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: cluster near-dups, keep the min-id
    doc per component, return surviving (doc_id, lang, text_len). This is
    the operator a pipeline actually ships — detection (pairs) and
    clustering (components) exist to feed it. Survivor filter is
    doc_id == component: one semi-join-shaped filter, no extra shuffle
    beyond the clustering."""
    d = table(spark, sf_dir, "documents")
    labels = dedup_cluster(spark, sf_dir)
    keep = labels.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    return (
        d.join(keep, "doc_id", "left_semi")
        .select("doc_id", "lang", F.length("text").cast("bigint").alias("text_len"))
    )


FUZZY_MAX_EDITS = 2
_BLOCK_PREFIX = 17  # on this corpus's zero-padded 9-digit names a short
# prefix is one giant block (every "Customer#000…" collides → O(n²));
# 17 fixes all but the last digit → blocks of ≤10 — block-key
# selectivity IS the tuning knob of this op
_SN_WINDOW = 3  # sorted-neighborhood band width (pass 2)


@register(
    "dedup_fuzzy_names",
    oracle=f"""
    WITH n AS (
      SELECT c_custkey, c_name,
             substr(c_name, 1, {_BLOCK_PREFIX}) AS blk,
             ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rk,
             ROW_NUMBER() OVER (ORDER BY reverse(c_name), c_custkey) AS rk2
      FROM customer),
    cand AS (
      SELECT a.c_custkey AS i, b.c_custkey AS j,
             a.c_name AS na, b.c_name AS nb
      FROM n a JOIN n b
        ON a.c_custkey < b.c_custkey
       AND (a.blk = b.blk OR abs(a.rk - b.rk) <= {_SN_WINDOW}
                          OR abs(a.rk2 - b.rk2) <= {_SN_WINDOW})
    )
    SELECT DISTINCT i, j, CAST(levenshtein(na, nb) AS INT) AS edits
    FROM cand
    WHERE levenshtein(na, nb) <= {FUZZY_MAX_EDITS}
    """,
    tags=("north_star", "dedup", "fuzzy"),
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage: near-identical entity names within
    edit distance ≤ 2 — THE dedup problem of a company registry (the
    reference's razao_social/nome_fantasia columns carry typo'd
    duplicates it never detects). Naive form is O(n²) levenshtein; TWO
    stacked blocking passes (multi-pass blocking, the record-linkage
    analog of multi-band LSH) keep it near-linear:

    - prefix block: names sharing the first {_BLOCK_PREFIX} chars —
      catches edits in the tail;
    - sorted neighborhood: names within {_SN_WINDOW} positions of each
      other in global name order — catches edits the prefix block can't
      see without scanning all pairs. One sort (a window over the full
      table) + a narrow rank-band self-join;
    - reversed-key sorted neighborhood: same band over reverse(name)
      order — edits in the LEADING characters destroy both prefix-block
      and forward-sort locality; reversing the key restores it (the
      multi-key pass of classic sorted-neighborhood linkage).

    Candidates from all passes union (DISTINCT), then one levenshtein
    verify. Each pass alone has a documented recall hole; stacking is
    the standard fix."""
    c = table(spark, sf_dir, "customer")
    w = Window.orderBy("c_name", "c_custkey")
    w2 = Window.orderBy(F.reverse(F.col("c_name")), F.col("c_custkey"))
    n = c.select(
        "c_custkey",
        "c_name",
        F.substring("c_name", 1, _BLOCK_PREFIX).alias("blk"),
        F.row_number().over(w).alias("rk"),
        F.row_number().over(w2).alias("rk2"),
    ).localCheckpoint()  # several self-join branches; rank once
    a, b = n.alias("a"), n.alias("b")
    # NB: both passes are EQUI-joins — an OR of the two block predicates
    # would force a cartesian nested-loop and undo the blocking.
    prefix_pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("i"),
        F.col("b.c_custkey").alias("j"),
        F.col("a.c_name").alias("na"),
        F.col("b.c_name").alias("nb"),
    )
    # rank-offset explode makes the ±window band an equi-join on the rank
    def sn_band(rank_col: str) -> DataFrame:
        return (
            a.select(
                "*", F.explode(F.sequence(F.lit(1), F.lit(_SN_WINDOW))).alias("off")
            )
            .join(b, F.col(f"a.{rank_col}") + F.col("off") == F.col(f"b.{rank_col}"))
            .select(
                F.least("a.c_custkey", "b.c_custkey").alias("i"),
                F.greatest("a.c_custkey", "b.c_custkey").alias("j"),
                F.when(F.col("a.c_custkey") < F.col("b.c_custkey"), F.col("a.c_name"))
                .otherwise(F.col("b.c_name"))
                .alias("na"),
                F.when(F.col("a.c_custkey") < F.col("b.c_custkey"), F.col("b.c_name"))
                .otherwise(F.col("a.c_name"))
                .alias("nb"),
            )
        )

    cand = prefix_pairs.unionByName(sn_band("rk")).unionByName(sn_band("rk2")).distinct()
    return (
        cand.select("i", "j", F.levenshtein("na", "nb").alias("edits"))
        .filter(F.col("edits") <= FUZZY_MAX_EDITS)
        .distinct()
    )


SIMHASH_MAX_HAMMING = 5  # planted near-dups land ≤ 5 on this corpus;
# random pairs bottom out above (frequency-weighted signature)

# DuckDB twin of the ENTIRE simhash pipeline. The token hash is the
# md5-half scheme of operators/dedup.py::_SIMHASH_EXPR (portable across
# engines); the signature is carried as two 32-bit halves (slo/shi) so no
# unsigned-64 value ever has to round-trip through a signed cast. The
# oracle skips banding and checks ALL pairs at hamming ≤ 5 — sound
# because 6×10-bit banding is pigeonhole-COMPLETE at that threshold
# (≤ 5 differing bits cannot break all 6 slice equalities), so the Spark
# side's banded candidate set provably loses nothing; band-hash
# collisions only ever ADD candidates, which the hamming verify removes.
_SQL_SIMHASH = rf"""
  WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
    FROM documents
  ), h AS (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
           ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
    FROM toks
  ), votes AS (
    SELECT doc_id, b.i AS i,
           sum(CASE WHEN ((CASE WHEN b.i < 32 THEN lo >> b.i
                                ELSE hi >> (b.i - 32) END) & 1) = 1
                    THEN 1 ELSE -1 END) AS c
    FROM h CROSS JOIN (SELECT unnest(range(64)) AS i) b
    GROUP BY 1, 2
  ), sig AS (
    SELECT doc_id,
           sum(CASE WHEN i < 32 AND c > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS slo,
           sum(CASE WHEN i >= 32 AND c > 0 THEN (1::BIGINT << (i - 32)) ELSE 0 END)::BIGINT AS shi
    FROM votes GROUP BY 1
  )
  SELECT a.doc_id AS i, b.doc_id AS j,
         bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi)) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi))
          <= {SIMHASH_MAX_HAMMING}
"""


@register("dedup_simhash", oracle=_SQL_SIMHASH, tags=("north_star", "dedup", "lsh"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted SimHash(64-bit) near-dup pairs: band on 10-bit
    slices (pigeonhole: hamming ≤ 5 ⇒ some one of 6 slices untouched ⇒
    shared bucket — recall at the ≤ 5 threshold is guaranteed, not
    probabilistic), verify hamming = bit_count(xor) ≤ 5. The full token
    list (not the distinct set) feeds the signature — frequency
    weighting is what separates near-dups from unrelated docs on
    low-vocabulary corpora. Band count is the recall/candidate-volume
    dial: B must exceed the hamming threshold, and every band beyond
    that only multiplies candidates. The md5-half token hash makes the
    signature engine-portable, so the key carries a FULL all-pairs
    oracle (complete banding ⇒ banded output ≡ all-pairs output); also
    cross-checked against Jaccard ground truth in tests.

    Production note: md5 here is the CONFORMANCE hash — it exists so the
    driver oracle can recompute the identical signature in DuckDB, and
    with the Arrow-batched signature its digest cost disappears into a
    per-batch memo (corpora are low-vocabulary; the r3-era A/B that
    measured md5 vs xxhash64 as cost-neutral in the SQL fold is moot
    now that the fold itself is gone from this plan). The Column-form
    ``simhash(toks, token_hash=...)`` remains the swappable surface for
    engines where the digest does measurably dominate: the vote loop,
    6×10-bit banding, pigeonhole recall guarantee, and hamming verify
    are hash-agnostic —
    tests/test_dedup_recall.py::test_simhash_hash_swap_same_structure
    pins that both hashes recover the identical planted pair set, and
    test_simhash_arrow_equals_sql_fold pins the Arrow signature
    bit-equal to the SQL fold on the real corpus."""
    d = table(spark, sf_dir, "documents")
    # Arrow-batched numpy signature, bit-identical to the simhash() SQL
    # fold (operators/dedup.py::simhash_signatures — the fold is ~9
    # µs/token of interpreted higher-order exprs, 2.4 s of this key's
    # old 4.8 s at sf0.1). Materialized before banding: the posting
    # self-join reads it from both sides.
    sigs = simhash_signatures(
        d.select("doc_id", tokens(F.col("text")).alias("toks")),
        "doc_id",
        "toks",
    ).localCheckpoint()
    # 6 bands of 10 bits: pigeonhole needs B ≥ h+1 = 6 slices for the
    # hamming ≤ 5 threshold (5 bands measurably loses pairs; 8 bands of
    # 8 bits doubles the candidate volume for zero extra recall — the 4
    # unsliced top bits don't weaken the guarantee, since extra
    # differences there never break a slice equality). The posting join
    # keys on the RAW (band, slice) pair — equality is identical to the
    # simhash_band_keys hash of the slice, without the hash.
    #
    # Verify is FUSED into the posting join (r10): each posting row
    # carries the 8-byte signature, hamming = bit_count(xor) runs
    # inside codegen on the joined row, and the distinct collapses the
    # ≤6× band multiplicity of the few SURVIVORS (true pairs × colliding
    # bands, ~14 k rows at sf0.1) — not the 2.2 M-row candidate space
    # the old candidate_pairs→distinct→re-join-signatures shape shuffled
    # twice more (measured 4.2 s → 0.7 s for everything after the
    # signature).
    width, bands = 10, 6
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.shiftright("sig", b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    e = sigs.select("doc_id", "sig", F.posexplode(slices).alias("band", "key"))
    a, b = e.alias("a"), e.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("i"),
            F.col("b.doc_id").alias("j"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


# Incremental near-dup: screen an INCOMING batch against an existing
# corpus — the shape a crawl pipeline actually runs (the full self-join
# re-dedups the world; this touches only new-vs-corpus candidates).
_INCR_SPLIT = 250  # docs < split = corpus, >= split = incoming batch

_SQL_INCREMENTAL = (
    _SQL_SHINGLES
    + f"""
  , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  p AS (
    SELECT b.doc_id AS new_id, a.doc_id AS corpus_id, count(*) AS inter
    FROM e a JOIN e b ON a.s = b.s
    WHERE a.doc_id < {_INCR_SPLIT} AND b.doc_id >= {_INCR_SPLIT}
    GROUP BY 1, 2
  )
  SELECT new_id, corpus_id, inter / (s1.n + s2.n - inter) AS jaccard
  FROM p JOIN sz s1 ON p.corpus_id = s1.doc_id JOIN sz s2 ON p.new_id = s2.doc_id
  WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}
"""
)


@staged("banded")
def _banded8x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, bk) — the 8×2 MinHash-banded signature frame, staged
    per (session, sf_dir) like _doc_shingles: this IS the persisted
    posting-table role (dedup_minhash_persist's bucketBy table at
    production), shared by dedup_incremental and
    corpus_ingest_incremental so a session bands the corpus once."""
    return (
        _doc_shingles(spark, sf_dir)
        .select(
            "doc_id",
            "sh",
            minhash_band_keys("sh", bands=8, rows=2).alias("bk"),
        )
        .localCheckpoint()
    )


@register("dedup_incremental", oracle=_SQL_INCREMENTAL, tags=("north_star", "dedup", "incremental"))
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: MinHash band keys of the INCOMING
    batch equi-join the CORPUS's band keys (the reference corpus is the
    build side of the one shuffle; at scale it is a pre-banded, bucketed
    TABLE maintained across runs, so screening a batch costs
    batch·bands lookups — nothing re-scans the corpus shingle-by-
    shingle). Candidates verify with exact Jaccard; output = (new_id,
    corpus_id, jaccard) ≥ 0.8, the rows a crawl pipeline uses to drop
    already-seen documents before they enter training data.

    Banding recall on this corpus is 100% (same 8×2 operating point as
    dedup_minhash, tests/test_dedup_recall.py) — so the key carries the
    exact corpus-vs-batch oracle."""
    signed = _banded8x2(spark, sf_dir)
    corpus = signed.filter(F.col("doc_id") < _INCR_SPLIT)
    batch = signed.filter(F.col("doc_id") >= _INCR_SPLIT)

    cb = corpus.select(
        F.col("doc_id").alias("corpus_id"),
        F.posexplode("bk").alias("band", "key"),
    )
    bb = batch.select(
        F.col("doc_id").alias("new_id"),
        F.posexplode("bk").alias("band", "key"),
    )
    cands = bb.join(cb, ["band", "key"]).select("new_id", "corpus_id").distinct()

    sa = corpus.select(F.col("doc_id").alias("corpus_id"), F.col("sh").alias("sha"))
    sb = batch.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    return (
        cands.join(sa, "corpus_id")
        .join(sb, "new_id")
        .select("new_id", "corpus_id", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


STOP_SHINGLE_DF = 64  # postings with document frequency above this are dropped


def _capped_candidates(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The df-capped candidate block of dedup_stopshingle and
    dedup_containment_capped, over (doc_id, sh) shingle sets. Returns
    ``cand`` (i, j, inter): the kept-shingle intersection of each pair
    sharing a shingle of document frequency ≤ STOP_SHINGLE_DF; and
    ``stats`` (doc_id, __n, __st): each doc's full set size and its
    stop-shingle count, the bound the callers' exact verify needs. The
    df count is a window over the same partitioning the self-join needs,
    so the posting list shuffles by shingle once.

    stats is doc-count-scale (one row per document): callers join it
    with NO broadcast hint — at test SF AQE broadcasts it anyway (it is
    tiny), and at the 100 TB regime a corpus-wide per-doc broadcast
    would OOM the executors, so the hint must not force it; the
    shuffle-join fallback is the correct plan there (r11 ADVICE low #2)."""
    e = sh.select("doc_id", F.explode("sh").alias("s"))
    ek = e.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("s"))
    ).filter(F.col("__df") <= STOP_SHINGLE_DF).drop("__df")
    cand = posting_intersections(ek, "doc_id", "s")
    kept_n = ek.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__kn"))
    stats = (
        sh.select("doc_id", F.size("sh").alias("__n"))
        .join(kept_n, "doc_id", "left")
        .select(
            "doc_id",
            "__n",
            (F.col("__n") - F.coalesce(F.col("__kn"), F.lit(0))).alias("__st"),
        )
    )
    return cand, stats


@register(
    "dedup_stopshingle",
    oracle=_SQL_SHINGLES
    + f"""
  , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  keep AS (SELECT s FROM e GROUP BY s HAVING count(*) <= {STOP_SHINGLE_DF}),
  ek AS (SELECT e.doc_id, e.s FROM e JOIN keep USING (s)),
  cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
           FROM ek a JOIN ek b ON a.s = b.s AND a.doc_id < b.doc_id),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  inter AS (SELECT c.i, c.j, count(*) AS x
            FROM cand c JOIN e ea ON ea.doc_id = c.i
                        JOIN e eb ON eb.doc_id = c.j AND ea.s = eb.s
            GROUP BY c.i, c.j)
  SELECT i, j, x / (s1.n + s2.n - x) AS jaccard
  FROM inter JOIN sz s1 ON i = s1.doc_id JOIN sz s2 ON j = s2.doc_id
  WHERE x / (s1.n + s2.n - x) >= {JACCARD_THRESHOLD}
    """,
    tags=("north_star", "dedup"),
)
def dedup_stopshingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The posting-join scale fix SCALE.md prescribes, as its own
    operator: drop stop-shingles (document frequency > 64) before
    candidate generation, then verify candidates against the FULL
    shingle sets so reported Jaccard values stay exact. A shingle in f
    docs costs f² candidate rows — the df cap bounds every posting
    list, turning the worst-case quadratic term into df²·|vocab_hot|,
    while recall is lost only for pairs whose ENTIRE overlap is
    stop-shingles (boilerplate-only matches — the pairs a curation
    pipeline wants to drop anyway). Shuffles: one posting join keyed by
    shingle (now bounded), one candidate-grain aggregate. The df count
    is a window over the SAME partitioning the self-join needs (not a
    groupBy + re-join, which would shuffle the posting list by s
    twice); the self-join then reuses that exchange on both sides.
    Postings deliberately carry the raw shingle, not xxhash64(shingle)
    as dedup_ngram_jaccard does: an interleaved A/B at sf0.1 measured
    the hashed variant slightly SLOWER warm (5.2 vs 4.8 s — the extra
    array-transform pass costs more than the ~3× smaller keys save
    here). On a real cluster where the posting shuffle is
    network-bound, hashing the key is the first knob to revisit.

    Verify (r11 rework, value-identical): the posting self-join already
    YIELDS each pair's kept-shingle intersection as its row count, so
    the old distinct + two full-array joins + array_intersect over
    every candidate (the measured hot stage: 1.1 M pairs × two ~52-
    element arrays ≈ 4 s of the key's 5.2 s at sf0.1) collapses to a
    count aggregate on the join output. Exactness against FULL sets is
    preserved through a per-doc stop-count bound: with
    stop_d = |full_d| − |kept_d| and m = min(stop_i, stop_j), the true
    intersection x satisfies ic ≤ x ≤ ic + m, so when m = 0 (at least
    one doc has no stop-shingles) ic IS x — jaccard computes exactly
    from counts, same integer operands, same IEEE double division as
    the oracle. Only pairs with m > 0 whose UPPER bound clears τ (both
    docs carry stop-shingles AND the bound is ambiguous — empty on this
    corpus, rare anywhere) fall back to the full-array verify; pairs
    whose upper bound misses τ are dropped exactly (true J ≤ bound <
    τ). Equivalence is pinned against a stop-shingle-heavy synthetic in
    tests/test_dedup_recall.py::test_stopshingle_bound_verify."""
    sh = _doc_shingles(spark, sf_dir)
    cand, stats = _capped_candidates(sh)
    c = (
        cand.join(
            stats.select(
                F.col("doc_id").alias("i"),
                F.col("__n").alias("__ni"),
                F.col("__st").alias("__sti"),
            ),
            "i",
        )
        .join(
            stats.select(
                F.col("doc_id").alias("j"),
                F.col("__n").alias("__nj"),
                F.col("__st").alias("__stj"),
            ),
            "j",
        )
        .withColumn("__m", F.least("__sti", "__stj"))
    )
    exact = (
        c.filter(F.col("__m") == 0)
        .select(
            "i",
            "j",
            (F.col("inter") / (F.col("__ni") + F.col("__nj") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    ambiguous = c.filter(
        (F.col("__m") > 0)
        & (
            (F.col("inter") + F.col("__m"))
            / (F.col("__ni") + F.col("__nj") - F.col("inter") - F.col("__m"))
            >= JACCARD_THRESHOLD
        )
    ).select("i", "j")
    verified = exact_jaccard(ambiguous, sh, "doc_id", "sh").filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    return exact.unionByName(verified)


# --- dedup_url_canonical ---------------------------------------------------
#
# The URL is DERIVED deterministically from (doc_id, source) — the
# testdata carries no URL column — using the same derived-input
# convention as the TPC-H partsupp family: both engines re-derive
# identical raw URLs, then canonicalize independently. The raw form
# bakes in every mess canonicalization must fix: mixed-case scheme and
# host, an explicit default port, tracking (utm_*) query parameters
# around a real parameter, and a fragment.
_SQL_URL_CANON = """
  WITH raw AS (
    SELECT doc_id,
           'HTTPS://WWW.' || upper(source) || '.Example.COM:443/articles/'
             || CAST(doc_id % 100 AS VARCHAR)
             || '?utm_campaign=share&id=' || CAST(doc_id % 7 AS VARCHAR)
             || CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END
             || '#section-' || CAST(doc_id % 5 AS VARCHAR) AS url
    FROM documents
  ), canon AS (
    SELECT doc_id, url,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   lower(regexp_extract(url, '^([A-Za-z]+://[^/]+)', 1))
                     || regexp_replace(url, '^[A-Za-z]+://[^/]+', ''),
                   '#.*$', ''),
                 '^(https://[^/:]+):443([/?]|$)', '\\1\\2'),
               '([?&])(?:utm_[^&#]*&)+', '\\1', 'g'),
             '[?&]utm_[^&#]*$', '') AS curl
    FROM raw
  )
  SELECT curl AS canonical_url,
         CAST(count(*) AS BIGINT)  AS n_dups,
         CAST(min(doc_id) AS BIGINT) AS keep_doc_id
  FROM canon GROUP BY curl
"""


def canonical_url(url) -> "F.Column":
    """Canonical form of a URL column: lowercase scheme+authority (paths
    stay case-sensitive), drop the :443 default port (anchored to the
    https authority — a literal `host:443/` inside a path/query is NOT
    touched, and http://h:443 keeps its non-default port), every utm_*
    query parameter at a real `?`/`&` delimiter (a parameter merely
    *containing* `utm_` mid-name, e.g. `xutm_b=2`, survives), and the
    fragment. Pure regexp kernels, property-tested for idempotence and
    against a sequential Python canonicalizer in
    tests/test_properties.py."""
    url = F.col(url) if isinstance(url, str) else url
    base = F.concat(
        F.lower(F.regexp_extract(url, r"^([A-Za-z]+://[^/]+)", 1)),
        F.regexp_replace(url, r"^[A-Za-z]+://[^/]+", ""),
    )
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(base, r"#.*$", ""),
                r"^(https://[^/:]+):443([/?]|$)",
                r"$1$2",
            ),
            r"([?&])(?:utm_[^&#]*&)+",
            r"$1",
        ),
        r"[?&]utm_[^&#]*$",
        "",
    )


@register(
    "dedup_url_canonical",
    oracle=_SQL_URL_CANON,
    tags=("north_star", "dedup", "url"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-frontier member of the
    dedup family: pages fetched under trivially-different URLs (case in
    scheme/host, explicit default port, utm_* tracking params, fragment)
    are one document. Canonicalize scan-side with pure regexp kernels
    (lowercase scheme+authority only — paths stay case-sensitive; drop
    the :443 default port, every utm_* parameter wherever it sits, and
    the fragment), then ONE groupBy on the canonical string keeps the
    smallest doc_id as survivor — the same keep-policy as
    dedup_canonical. The raw URL is derived deterministically from
    (doc_id, source) so the oracle re-derives identical input (TPC-H
    derived-input convention; the regexps are the shared spec, computed
    independently by each engine — Java regex and RE2 agree on these
    anchored character-class patterns).

    Scale shape: canonicalization is codegen string work at the scan;
    the only exchange is the groupBy on canonical_url (pre-aggregated
    map-side). At 100 TB this runs before any content fetch/dedup and
    typically shrinks the frontier 10-30%."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper("source"),
        F.lit(".Example.COM:443/articles/"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("?utm_campaign=share&id="),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&utm_source=feed")).otherwise(
            F.lit("")
        ),
        F.lit("#section-"),
        (F.col("doc_id") % 5).cast("string"),
    )
    raw = d.select("doc_id", url.alias("url"))
    return (
        raw.select("doc_id", canonical_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
    )


@register(
    "dedup_minhash_persist",
    oracle=_SQL_INCREMENTAL,
    tags=("north_star", "dedup", "incremental", "layout"),
)
def dedup_minhash_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental's PRODUCTION layout: the corpus's banded MinHash
    signatures live in a PERSISTED table bucketed by the band key, and an
    incoming batch probes that table — the shape a crawl pipeline
    actually maintains across runs (dedup_incremental derives the corpus
    side in-session each time; here it is an artifact with a lifecycle,
    like the kmeans quantizer or the lm model). Steps:

      1. sink: (corpus_id, band, key, sh) exploded band postings,
         bucketBy(key) via layout.write_bucketed — pay the corpus shuffle
         ONCE at build time; at 100 TB this table appends per crawl wave
         and re-clusters on the same bucketing.
      2. probe: the batch's band keys equi-join the persisted postings on
         (band, key). Bucketing pre-hashes the table on `key`, so only
         the (small) batch side moves; candidates dedup on the pair.
      3. verify: exact Jaccard over shingles — the batch carries its own
         sh; the CORPUS shingles ride the posting table (denormalized per
         posting — trades ~bands× storage for a zero-join verify read,
         the standard postings-with-payload layout), deduped per pair.

    Output ≡ dedup_incremental — (new_id, corpus_id, jaccard ≥ 0.8) —
    so the from-scratch oracle re-derives it exactly; the key's value is
    proving the persisted-layout path hash-matches the in-memory one."""
    from etl_cnpjs_spark.plans.io import write_bucketed

    docs = _doc_shingles(spark, sf_dir)
    signed = docs.select(
        "doc_id",
        "sh",
        minhash_band_keys("sh", bands=8, rows=2).alias("bk"),
    ).localCheckpoint()

    corpus_postings = (
        signed.filter(F.col("doc_id") < _INCR_SPLIT)
        .select(
            F.col("doc_id").alias("corpus_id"),
            F.posexplode("bk").alias("band", "key"),
            F.col("sh").alias("sha"),
        )
    )
    write_bucketed(corpus_postings, "minhash_corpus_bands", "key")
    persisted = spark.table("minhash_corpus_bands")

    batch = signed.filter(F.col("doc_id") >= _INCR_SPLIT)
    bb = batch.select(
        F.col("doc_id").alias("new_id"),
        F.posexplode("bk").alias("band", "key"),
    )
    cands = (
        bb.join(persisted, ["band", "key"])
        .select("new_id", "corpus_id", "sha")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    sb = batch.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    return (
        cands.join(sb, "new_id")
        .select("new_id", "corpus_id", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


CONTAINMENT_THRESHOLD = 0.9

_SQL_CONTAINMENT = (
    _SQL_SHINGLES
    + f"""
  , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
  p AS (
    SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
    FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
  b2 AS (SELECT i AS src, j AS dst, inter FROM p
         UNION ALL SELECT j, i, inter FROM p)
  SELECT src, dst, inter / s1.n AS containment
  FROM b2 JOIN sz s1 ON src = s1.doc_id
  WHERE inter / s1.n >= {CONTAINMENT_THRESHOLD}
"""
)


@register(
    "dedup_containment",
    oracle=_SQL_CONTAINMENT,
    tags=("north_star", "dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: DIRECTED pairs where ≥ 90% of src's shingles
    appear in dst — C(src→dst) = |src ∩ dst| / |src|, the containment
    metric (Broder's resemblance-vs-containment split). This is the
    detector Jaccard structurally misses: a benchmark item quoted inside
    a long crawl page, a doc embedded in a boilerplate wrapper, an
    excerpt — size imbalance drives |∩|/|∪| → 0 while |∩|/|src| stays
    1.0. Training pipelines run BOTH: Jaccard for mutual near-dups
    (drop one), containment for subset relations (drop the contained
    copy, keep the superset — or flag contamination when src is an eval
    item; text_decontaminate's overlap counts are the screening form of
    the same signal).

    Scale shape: identical single posting-shuffle envelope as
    dedup_ngram_jaccard — intersections are symmetric, so the i<j join
    computes each |∩| once and the direction split is a union of two
    projections AFTER the aggregate (no second posting join); the size
    join is doc-grain. At 100 TB the same df-capping and banding
    refinements apply unchanged (candidates first, containment as the
    verify) because the candidate generator doesn't care which metric
    verifies. Integer/integer division ⇒ identical doubles both
    engines; full hash oracle."""
    from etl_cnpjs_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "sh", CONTAINMENT_THRESHOLD
    )


@register(
    "dedup_containment_capped",
    oracle=_SQL_SHINGLES
    + f"""
  , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  keep AS (SELECT s FROM e GROUP BY s HAVING count(*) <= {STOP_SHINGLE_DF}),
  ek AS (SELECT e.doc_id, e.s FROM e JOIN keep USING (s)),
  cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
           FROM ek a JOIN ek b ON a.s = b.s AND a.doc_id < b.doc_id),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  inter AS (SELECT c.i, c.j, count(*) AS x
            FROM cand c JOIN e ea ON ea.doc_id = c.i
                        JOIN e eb ON eb.doc_id = c.j AND ea.s = eb.s
            GROUP BY c.i, c.j),
  b2 AS (SELECT i AS src, j AS dst, x FROM inter
         UNION ALL SELECT j, i, x FROM inter)
  SELECT src, dst, x / s1.n AS containment
  FROM b2 JOIN sz s1 ON src = s1.doc_id
  WHERE x / s1.n >= {CONTAINMENT_THRESHOLD}
    """,
    tags=("north_star", "dedup", "containment"),
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_containment's PRODUCTION shape — the r6-queue item landed
    early: candidate generation over the df ≤ {cap} CAPPED posting
    lists (the dedup_stopshingle discipline, window over the same
    partitioning the self-join reuses), then containment verified
    against the FULL shingle sets so reported values stay exact. The
    capped-candidates / full-verify split matters MORE for containment
    than for Jaccard: a short doc made entirely of boilerplate
    trivially reaches containment 1.0 inside anything — and those are
    exactly the pairs the df cap prunes at the candidate stage, before
    they cost f² posting rows. Recall is lost only for pairs whose
    ENTIRE overlap is stop-shingles (the boilerplate-only matches a
    curation pipeline drops anyway); every surviving candidate's
    containment is computed on uncapped sets, bit-exact vs the oracle.
    Same two bounded shuffles as dedup_stopshingle; the direction
    split is post-aggregate (dedup_containment's shape).

    Verify (r11, the dedup_stopshingle bound-verify rework applied to
    the containment metric): the posting self-join's row count per
    (i, j) is the kept-shingle intersection ic, and with
    m = min(stop_i, stop_j) the true intersection x is bounded by
    ic ≤ x ≤ ic + m — so m = 0 pairs compute BOTH directed
    containments exactly from counts (same integer operands, same
    double division as the oracle), and only m > 0 pairs whose upper
    bound (ic+m)/min(na,nb) clears τ in SOME direction fall back to
    the full-array intersect. Pinned on a stop-shingle-heavy synthetic
    in tests/test_dedup_recall.py::test_containment_capped_bound_verify."""
    sh = _doc_shingles(spark, sf_dir)
    cand, stats = _capped_candidates(sh)
    c = (
        cand.join(
            stats.select(
                F.col("doc_id").alias("i"),
                F.col("__n").alias("na"),
                F.col("__st").alias("__sti"),
            ),
            "i",
        )
        .join(
            stats.select(
                F.col("doc_id").alias("j"),
                F.col("__n").alias("nb"),
                F.col("__st").alias("__stj"),
            ),
            "j",
        )
        .withColumn("__m", F.least("__sti", "__stj"))
    )
    exact = c.filter(F.col("__m") == 0).select(
        "i", "j", F.col("inter").alias("x"), "na", "nb"
    )
    ambiguous = c.filter(
        (F.col("__m") > 0)
        & (
            (F.col("inter") + F.col("__m"))
            / F.least(F.col("na"), F.col("nb"))
            >= CONTAINMENT_THRESHOLD
        )
    ).select("i", "j")
    la = sh.select(F.col("doc_id").alias("i"), F.col("sh").alias("__sa"))
    lb = sh.select(F.col("doc_id").alias("j"), F.col("sh").alias("__sb"))
    verified = (
        ambiguous.join(la, "i")
        .join(lb, "j")
        .select(
            "i", "j",
            F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).alias("x"),
            F.size("__sa").alias("na"),
            F.size("__sb").alias("nb"),
        )
    )
    pairs = exact.unionByName(verified)
    # both directions from ONE pass over the pair frame (the
    # graph_triangle_count explode lesson: a 2-branch union re-probes
    # the whole subtree per branch; explode emits both rows in place)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("i").alias("src"),
                    F.col("j").alias("dst"),
                    (F.col("x") / F.col("na")).alias("containment"),
                ),
                F.struct(
                    F.col("j").alias("src"),
                    F.col("i").alias("dst"),
                    (F.col("x") / F.col("nb")).alias("containment"),
                ),
            )
        ).alias("__r")
    ).select("__r.*")
    return directed.filter(F.col("containment") >= CONTAINMENT_THRESHOLD)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH n AS ({_SQL_VECS})
    SELECT a.vec_id AS i, b.vec_id AS j, {sql_cosine("a.v", "b.v")} AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {sql_cosine("a.v", "b.v")} >= {NEAR_DUP_TAU}
    """,
    tags=("north_star", "similarity", "dedup"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ τ over all pairs i<j, via the
    blocked cross-product + vectorized-numpy scorer
    (operators/similarity.py::all_pairs_cosine_blocked).

    The row-expression crossJoin form is O(n²) *interpreted* aggregates;
    blocking keeps the same exact O(n²) arithmetic but runs it as
    NB(NB+1)/2 bounded Arrow tasks of SIMD numpy — ~25× faster at sf0.1
    and the layout that survives a cluster (per-task memory is capped by
    the block size, tasks are embarrassingly parallel). Scores stay
    bit-identical to the DuckDB oracle (sequential fold, same op order).
    At 100 TB brute force itself is the wrong shape — this key is the
    oracle-grade exact baseline; the production path is
    dedup_embedding_lsh (banded candidates, bucket-local verify), with
    sim_topk_ivf's centroid bucketing as the ANN alternative. That split
    is ENFORCED, not advisory: the operator refuses corpora above 50k
    vectors (ValueError naming the twins; max_rows=None opts back in for
    deliberate conformance runs on sampled slices), so the baseline
    cannot be silently misused as a scale path."""
    n = _vecs(spark, sf_dir)
    return all_pairs_cosine_blocked(
        n.select("vec_id", "v"), "vec_id", "v", NEAR_DUP_TAU
    )


@register(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH n AS ({_SQL_VECS})
    SELECT a.vec_id AS i, b.vec_id AS j, {sql_cosine("a.v", "b.v")} AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {sql_cosine("a.v", "b.v")} >= {NEAR_DUP_TAU}
    """,
    tags=("north_star", "similarity", "dedup", "lsh"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH banding — the bucketed
    replacement for dedup_embedding_cosine's all-pairs layout: random-
    hyperplane sign signatures (Arrow-batched matmul), one band-bucket
    equi-join for candidates, exact-cosine verify on candidates only.
    Nothing in the plan materializes the n² pair space, and no verify
    task collects an unbounded payload: buckets over 1024 members salt
    into bounded group-pair tasks with exact pair coverage
    (operators/similarity.py::salted_buckets; planted hot-bucket proof
    in tests/test_dedup_recall.py::test_lsh_hot_bucket_cap).

    Operating point (32 bands × 2 bits, measured on this corpus): per-pair
    miss probability at τ=0.4 is (1−0.631²)^32 ≈ 9e-8, and measured recall
    is 100% at sf0.001/0.01/0.1 — so the key carries the EXACT all-pairs
    oracle, the same contract dedup_minhash has with exact Jaccard.

    Honesty note, measured: τ=0.4 on this near-orthogonal corpus
    (background p(bit) ≈ 0.5–0.59 vs true-pair p ≈ 0.63) is the regime
    where banding cannot also prune — every 100%-recall config keeps
    ≥94% of pairs as candidates (sweep: r=2..8, B=16..48). LSH pruning
    becomes real in the production near-dup regime: at τ=0.9 with
    16 bands × 8 bits the same operator prunes >90% of pairs at full
    recall (asserted with planted duplicates in
    tests/test_dedup_recall.py). The operator is the scale path; the τ
    is this corpus's quirk."""
    n = _vecs(spark, sf_dir)
    return embedding_lsh_pairs(
        n.select("vec_id", "v"), "vec_id", "v", NEAR_DUP_TAU, bands=32, rows=2
    )


_SQL_SEMANTIC = f"""
    WITH n AS ({_SQL_VECS}),
    {_SQL_ASSIGN_CTES},
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND b.vec_id < a.vec_id
      WHERE {sql_cosine("a.v", "b.v")} >= {SEMANTIC_TAU})
    SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS kept
    FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


@register(
    "dedup_semantic",
    oracle=_SQL_SEMANTIC,
    tags=("north_star", "similarity", "dedup", "semantic"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv:2303.09540 recipe): coarse-cluster the embeddings, compare
    pairs ONLY within a cluster, and keep one survivor per semantic
    near-dup set. Concretely: (1) deterministic label-mean centroids +
    nearest-centroid assignment (_label_centroid_assignment — the same
    exact-arithmetic quantizer sim_topk_kmeans uses; production swaps
    in the trained KMeans quantizer, same layout); (2) a bucket-local
    self-join scores cos(a,b) for pairs in the SAME bucket; (3) a
    vector is dropped iff a lower-id vector in its bucket is
    near-duplicate (cos ≥ τ) — the deterministic keep-lowest-id form of
    SemDeDup's keep-one rule, which both engines can re-derive, making
    this approximate algorithm fully hash-checkable (like sim_topk_ivf,
    the approximation is in the algorithm the oracle re-runs, not the
    arithmetic).

    Scale shape — the reason SemDeDup exists: the pair space is
    Σ_buckets (n_b choose 2), ~n²/k for balanced buckets, instead of
    the global n²; assignment is a broadcast-centroid map pass, and the
    intra-bucket verify runs as the SAME salted numpy bucket scorer
    dedup_embedding_lsh verifies with (bucket_cosine_pairs — one
    bucket-keyed shuffle, hot clusters salt into bounded group-pair
    tasks, scores bit-identical to the SQL fold; measured ~4× over the
    row-expression self-join at sf0.1). k grows with the corpus so
    bucket size stays bounded; cross-bucket near-dups are the accepted
    miss (the paper's trade), measured against the exact cosine family
    in tests/test_dedup_recall.py."""
    from etl_cnpjs_spark.operators.similarity import bucket_cosine_pairs

    n = _vecs(spark, sf_dir)
    _, assign = _label_centroid_assignment(n)
    a = assign.localCheckpoint()  # two consumers: pair scorer + rebuild
    pairs = bucket_cosine_pairs(a, "cid", "vec_id", "v", SEMANTIC_TAU)
    dropped = pairs.select(F.col("j").alias("vec_id")).distinct()
    return a.join(dropped.withColumn("d", F.lit(1)), "vec_id", "left").select(
        "vec_id", "cid", F.col("d").isNull().alias("kept")
    )


# --- dedup_minhash_estimate --------------------------------------------------
#
# MinHash as an ESTIMATOR, made engine-exact: per near-dup pair, the
# 16-permutation signature agreement (each permutation = min over
# shingles of an md5-keyed hash, the conv(hex,16,10) idiom DuckDB
# computes identically) BESIDE the exact Jaccard — the report that
# justifies a sketch operating point empirically instead of by the
# (1-j^r)^b formula alone. The detection keys (dedup_minhash,
# dedup_incremental) prove banding finds the pairs; this key proves
# the SIGNATURE VALUES themselves are deterministic and portable.

_MH_PERMS = 16


def _mh_est_oracle() -> str:
    mins = ",\n             ".join(
        f"min(('0x' || substr(md5('{p}|' || s), 1, 15))::BIGINT) AS mh{p}"
        for p in range(_MH_PERMS)
    )
    agree = " + ".join(
        f"CASE WHEN a.mh{p} = b.mh{p} THEN 1 ELSE 0 END"
        for p in range(_MH_PERMS)
    )
    return (
        _SQL_SHINGLES
        + f"""
  , ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
  sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
  p0 AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
         FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
  pairs AS (SELECT i, j,
                   CAST(inter * 1000000 // (s1.n + s2.n - inter) AS BIGINT)
                     AS exact_ppm
            FROM p0 JOIN sz s1 ON p0.i = s1.doc_id
                    JOIN sz s2 ON p0.j = s2.doc_id
            WHERE inter / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}),
  mh AS (SELECT doc_id,
             {mins}
         FROM ex GROUP BY doc_id)
  SELECT p.i, p.j, p.exact_ppm,
         CAST({agree} AS BIGINT) AS agree,
         CAST(({agree}) * 1000000 // {_MH_PERMS} AS BIGINT) AS est_ppm
  FROM pairs p JOIN mh a ON p.i = a.doc_id JOIN mh b ON p.j = b.doc_id
"""
    )


@register(
    "dedup_minhash_estimate",
    oracle=_mh_est_oracle(),
    tags=("dedup", "north_star", "similarity"),
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup pair: exact Jaccard (ppm) beside the 16-permutation
    MinHash agreement estimate (ppm).

    Shapes: ONE posting explode feeds a 16-min groupBy (signatures in
    a single doc-keyed pass — adding permutations widens the aggregate,
    never adds exchanges); the pair frame reuses the memoized exact
    pairs; two broadcast-sized joins attach signatures. The md5→
    conv(hex,16,10) hash is the r3 idiom both engines compute bit-
    identically, so E[agreement] = J is not just a theorem here — the
    estimator's exact output is hash-pinned. At corpus scale the same
    signature table is what dedup_minhash_persist buckets and stores."""
    sh = _doc_shingles(spark, sf_dir)
    ex = sh.filter(F.size("sh") > 0).select(
        "doc_id", F.explode("sh").alias("s")
    )
    mins = [
        F.min(
            F.expr(
                f"cast(conv(substring(md5(concat('{p}|', s)), 1, 15), 16, 10)"
                " as bigint)"
            )
        ).alias(f"mh{p}")
        for p in range(_MH_PERMS)
    ]
    mh = ex.groupBy("doc_id").agg(*mins)

    pairs = _exact_pairs(spark, sf_dir)
    sz = sh.select("doc_id", F.size("sh").alias("n"))
    shd = sh.select("doc_id", "sh")
    p = (
        pairs.select("i", "j")
        .join(shd.select(F.col("doc_id").alias("i"), F.col("sh").alias("sha")), "i")
        .join(shd.select(F.col("doc_id").alias("j"), F.col("sh").alias("shb")), "j")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    p = p.select(
        "i",
        "j",
        F.expr(
            "CAST(size(array_intersect(sha, shb)) * 1000000 DIV "
            "(size(sha) + size(shb) - size(array_intersect(sha, shb))) "
            "AS BIGINT)"
        ).alias("exact_ppm"),
    )
    a = mh.select(
        F.col("doc_id").alias("i"), *[F.col(f"mh{q}").alias(f"a{q}") for q in range(_MH_PERMS)]
    )
    b = mh.select(
        F.col("doc_id").alias("j"), *[F.col(f"mh{q}").alias(f"b{q}") for q in range(_MH_PERMS)]
    )
    agree_expr = sum(
        F.when(F.col(f"a{q}") == F.col(f"b{q}"), 1).otherwise(0)
        for q in range(_MH_PERMS)
    )
    return (
        p.join(a, "i")
        .join(b, "j")
        .select(
            "i",
            "j",
            "exact_ppm",
            agree_expr.cast("bigint").alias("agree"),
            (agree_expr * 1000000 / _MH_PERMS)
            .cast("bigint")
            .alias("est_ppm"),
        )
    )
