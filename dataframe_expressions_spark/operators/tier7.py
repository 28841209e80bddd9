"""Tier 7 — round-5 extension block.

Retrieval & text: BM25 ranking, bigram-LM surprisal, n-gram novelty,
minhash calibration audit.  Sampling & sharding: Efraimidis–Spirakis
weighted sampling, WebDataset-style shard manifests.  Sketches &
statistics: count-min heavy hitters (completing the sketch family next
to HLL / bitmap / Bloom), mutual information, Mann-Kendall trend,
Benford digit audit.  Windows & graphs: gaps-and-islands value runs,
degree-ordered triangle counting.  ANN: IVF-PQ asymmetric-distance
search.  Runtime & storage: streaming checkpoint-restart recovery,
dynamic partition pruning, runtime bloom-filter joins, permissive CSV
quarantine.

Reference parity note: gordonwatts/dataframe_expressions is a
capture-only front end (no engine, ~1.2 kLoC; see SURVEY.md §1), so
every operator here is extension scope — the workloads a Spark-backed
engine for 100 TB training-data pipelines needs, each expressed
Spark-first and oracle-checked like tiers 2–6.

Oracle discipline (same as tier5/tier6): BIGINT casts on counts;
doubles rounded per-term to a fixed scale in GROUP-sized tables, then
DECIMAL-folded so the final sums are partition-order independent and
bit-identical across engines; identical aliases both sides; the
portable char fingerprint (functions/text.py:85) wherever deterministic
pseudo-randomness is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import dedup as D
from ..functions import text as TX
from ..sources.tables import (
    load_table,
    read_parquet,
    source_fingerprint,
    sweep_dead_pid_dirs as _sweep_dead_pid_dirs,
)
from .registry import query
from .tier3 import _LSH_BUCKET_SQL
from .tier3 import _SHINGLES3 as _SHINGLES3_SQL
from .tier3 import _TOKS

# DuckDB mirror of functions/text.py:char_fingerprint over an arbitrary
# expression (tier6's _FP_SQL is pinned to the `text` column).
def _fp_sql(expr: str) -> str:
    return f"""
      list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length({expr}) + 1),
                                 i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT))),
                  (a, x) -> (a * 31 + x) % 1000000007)
    """


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------

_BM25_TERMS = ("vector", "merge", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


# Shared BM25 per-doc score CTE chain (ends in ``agg(doc_id, score)``)
# — textually identical in rank_bm25 and the rank_fusion_hybrid lexical
# leg so the two oracles cannot drift apart.
_BM25_AGG_SQL = f"""d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    st AS (SELECT count(*) AS n,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('vector', 'merge', 'stream')
           GROUP BY doc_id, term),
    dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (SELECT tf.doc_id,
                  round(ln(1 + (st.n - dfx.df + 0.5) / (dfx.df + 0.5))
                        * (tf.tf * ({_BM25_K1} + 1))
                        / (tf.tf + {_BM25_K1}
                           * (1 - {_BM25_B}
                              + {_BM25_B} * dl.dl / st.avgdl)), 6) AS s
           FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
                CROSS JOIN st),
    agg AS (SELECT doc_id,
                   CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE) AS score
            FROM sc GROUP BY doc_id)"""


def _bm25_doc_scores(spark: SparkSession, sf_dir: str) -> SDF:
    """Per-doc BM25 score frame (doc_id, score) — the Spark twin of
    ``_BM25_AGG_SQL``, shared by rank_bm25 and rank_fusion_hybrid."""
    docs = D.spread(load_table(spark, sf_dir, "documents"))
    # Eager checkpoint (round 15): doc-length, corpus stats, the
    # query-term postings and the document-frequency broadcast all
    # derive from this tokenize pass, and without a barrier the regex
    # tokenizer ran four times (before plan: 4 Scan→tokens legs).  The
    # A/B also tried checkpointing only the two narrow derived tables
    # (dl, tf — tokenize ×2): one token-array checkpoint measured
    # faster and does strictly less corpus work.
    d = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=True)
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    st = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfx = F.broadcast(tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    sc = (
        tf.join(dfx, "term")
        .join(dl, "doc_id")
        .crossJoin(st)
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(1)
                    + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (F.lit(1) - b + b * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("s"),
        )
    )
    return sc.groupBy("doc_id").agg(
        F.sum(F.col("s").cast("decimal(38,6)")).cast("double").alias("score")
    )


@query(
    "rank_bm25",
    f"""
    WITH {_BM25_AGG_SQL},
    r AS (SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rk
          FROM agg)
    SELECT CAST(rk AS BIGINT) AS rk, doc_id, score FROM r WHERE rk <= 20
    """,
)
def rank_bm25(spark: SparkSession, sf_dir: str) -> SDF:
    """BM25 document retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75)
    for a fixed query-term set over the corpus — the lexical ranking
    half of every retrieval/RAG data pipeline, next to the embedding
    ANN family (sim_search_*).

    Scale: the corpus explosion is FILTERED to query-term hits before
    its one shuffle (a 3-term query touches ~3/vocab of the postings;
    the non-matching tokens never leave the map side).  Per-term df and
    the (N, avgdl) corpus stats are O(|query|) and O(1) — broadcast.
    Per-(doc,term) scores are pure IEEE arithmetic on exact ints
    (tf/df/N/dl) rounded to 6 decimals, the per-doc sum DECIMAL-folds
    those, and the final top-20 is TakeOrderedAndProject on the exact
    decimal sum with a doc_id tie-break — no global sort."""
    agg = _bm25_doc_scores(spark, sf_dir)
    # global window [window-group-limit]: rk <= 20 over per-doc scores
    # (inventoried in tests/test_window_audit.py)
    wr = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.select(
            F.row_number().over(wr).cast("long").alias("rk"), "doc_id", "score"
        )
        .where(F.col("rk") <= 20)
    )


# ---------------------------------------------------------------------------
# bigram-LM surprisal (conditional cross-entropy quality filter)
# ---------------------------------------------------------------------------


@query(
    "text_bigram_surprisal",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS bg
          FROM d WHERE len(toks) > 1),
    p AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
    c2 AS (SELECT w1, w2, count(*) AS n2 FROM p GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY w1),
    t AS (SELECT w1, w2,
                 round(ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)), 6)
                   AS srp
          FROM c2 JOIN c1 USING (w1))
    SELECT p.doc_id, count(*) AS n_bigrams,
           CAST(sum(CAST(srp AS DECIMAL(38,6))) AS DOUBLE) AS sum_surprisal
    FROM p JOIN t USING (w1, w2) GROUP BY p.doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> SDF:
    """Bigram-LM cross-entropy scoring: train conditional bigram MLE
    probabilities on the corpus itself, score every document by its mean
    -ln p(w2|w1) — one model order up from text_unigram_surprisal.  This
    is the CCNet-style LM quality filter shape: low = fluent/common
    phrasing, high = token salad; the corpus-trained model needs no
    smoothing because every scored bigram came from the corpus.

    Scale: the bigram explosion shuffles ONCE into (w1,w2) counts
    (map-side combined); context counts c1 re-aggregate the bigram
    table (vocabulary-sized, not corpus-sized).  The per-bigram
    surprisal ln(c1)-ln(c2) is rounded to 6 decimals in the
    vocabulary-sized table and the per-doc TOTAL DECIMAL-folds those —
    engine log-ulp differences cannot reorder the sum.  The output is
    the exact sum (with n_bigrams alongside; avg = sum/n for the
    caller): a rounded quotient flipped a round-half tie at sf0.1 —
    Spark rounds the shortest decimal representation of a double while
    DuckDB rounds its binary value, and a near-tie quotient splits
    them by exactly 1e-4 — where the decimal sum converts to the
    identical double on both engines with no division at all.  The
    score join is token-keyed; the vocab side is left to AQE (a
    web-corpus bigram vocabulary is too big to force-broadcast)."""
    docs = load_table(spark, sf_dir, "documents")
    d = D.spread(
        docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    ).where(F.size("toks") > 1)
    p = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # Eager checkpoint (round 15): THREE consumers read this table — the
    # bigram counts, the context counts re-aggregated from them, and the
    # per-doc score join — and without a barrier each leg re-ran the
    # tokenize + transform + explode corpus pass (before plan: 3×
    # Scan→Generate).  Materializing the (doc_id, w1, w2) rows costs one
    # pass over bigram-sized data vs three corpus re-reads; a probed
    # second checkpoint on the vocab-sized counts measured SLOWER (AQE
    # already reuses that exchange).
    p = p.localCheckpoint(eager=True)
    c2 = p.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    t = c2.join(c1, "w1").select(
        "w1",
        "w2",
        F.round(
            F.log(F.col("n1").cast("double")) - F.log(F.col("n2").cast("double")),
            6,
        ).alias("srp"),
    )
    return (
        p.join(t, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("srp").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_surprisal"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic weighted sampling (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_FP_MOD = 1_000_000_007


@query(
    "sample_weighted",
    f"""
    WITH k AS (SELECT doc_id,
                      greatest(n_chars, 1) AS w,
                      round(ln((({_fp_sql('text')}) + 1)
                               / CAST({_FP_MOD + 1} AS DOUBLE))
                            / greatest(n_chars, 1), 12) AS key
               FROM documents),
    r AS (SELECT doc_id, CAST(w AS BIGINT) AS w, key,
                 row_number() OVER (ORDER BY key DESC, doc_id) AS rk
          FROM k)
    SELECT CAST(rk AS BIGINT) AS rk, doc_id, w, key FROM r WHERE rk <= 30
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> SDF:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES:
    rank by u^(1/w), equivalently ln(u)/w) with the uniform u derived
    from the content fingerprint instead of rand() — longer documents
    are proportionally more likely to be kept, and the SAME sample comes
    back on every run, engine, and retry.  This is the length-weighted
    mixture draw a pretraining sampler runs per source, made
    reproducible.

    Scale: the key is map-only arithmetic per row (no shuffle, no RNG
    state), and the top-k is TakeOrderedAndProject — the driver holds k
    rows, never the corpus.  ln-ulp differences between engines are
    absorbed by rounding the key at 1e-12 (absolute), far below any
    real key gap, before ranking with a doc_id tie-break."""
    docs = D.spread(load_table(spark, sf_dir, "documents"))
    w = F.greatest(F.col("n_chars"), F.lit(1))
    u = (TX.char_fingerprint(F.col("text")) + 1) / F.lit(
        float(_FP_MOD + 1)
    )
    k = docs.select(
        "doc_id",
        w.cast("long").alias("w"),
        F.round(F.log(u) / w, 12).alias("key"),
    )
    # global window [window-group-limit]: rk <= 30 over per-doc keys
    # (inventoried in tests/test_window_audit.py)
    wr = W.orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        k.select(F.row_number().over(wr).cast("long").alias("rk"), "doc_id",
                 "w", "key")
        .where(F.col("rk") <= 30)
    )


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_W = 128
_CMS_A = (31, 131, 1031, 8191)
_CMS_B = (17, 257, 4099, 65537)
_CMS_PROBES = ("join", "vector", "merge", "zzz_absent_token")


def _cms_cell_sql(j: int, fp: str) -> str:
    return (
        f"(({_CMS_A[j]} * ({fp}) + {_CMS_B[j]}) % {_FP_MOD}) % {_CMS_W}"
    )


@query(
    "agg_countmin_heavyhit",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS term FROM documents),
    vocab AS (SELECT term, count(*) AS cnt,
                     {_fp_sql('term')} AS fp
              FROM tok GROUP BY term),
    cells AS (SELECT j, cell, sum(cnt) AS c FROM (
                {' UNION ALL '.join(
                    f"SELECT {j} AS j, {_cms_cell_sql(j, 'fp')} AS cell, cnt "
                    f"FROM vocab"
                    for j in range(4)
                )}) GROUP BY j, cell),
    probes AS (SELECT unnest(['join', 'vector', 'merge',
                              'zzz_absent_token']) AS term),
    ph AS (SELECT term, {_fp_sql('term')} AS fp FROM probes),
    pc AS ({' UNION ALL '.join(
        f"SELECT term, {j} AS j, {_cms_cell_sql(j, 'fp')} AS cell FROM ph"
        for j in range(4)
    )}),
    est AS (SELECT pc.term, min(cells.c) AS est
            FROM pc JOIN cells USING (j, cell) GROUP BY pc.term)
    SELECT est.term,
           CAST(coalesce(vocab.cnt, 0) AS BIGINT) AS exact,
           CAST(est.est AS BIGINT) AS est,
           CAST(est.est - coalesce(vocab.cnt, 0) AS BIGINT) AS overcount
    FROM est LEFT JOIN vocab ON est.term = vocab.term
    """,
)
def agg_countmin_heavyhit(spark: SparkSession, sf_dir: str) -> SDF:
    """Count-min sketch (d=4 rows × w=128 counters, universal-hash family
    (a·fp + b) mod p mod w over the portable content fingerprint) with
    point queries for a fixed probe set — the mergeable
    frequency-estimate sketch that completes the family next to HLL
    (distinct), bitmap (exact distinct) and Bloom (membership).  The
    absent-token probe surfaces pure collision mass; overcount = est −
    exact is the sketch's one-sided error, non-negative by construction.

    Scale: the corpus token explosion shuffles ONCE into the
    vocabulary-sized (term, cnt) table (map-side combined) — the d×w
    cell rollup then aggregates VOCAB rows, not corpus rows, into a
    512-cell sketch that would ride a broadcast anywhere downstream.
    Sketches from disjoint corpus shards merge by cell-wise addition —
    the same one-shuffle rollup — which is why CMS is the 100 TB shape
    for streaming heavy-hitter monitoring.  All arithmetic is exact
    int64 (a·fp ≤ 8191·1e9 ≪ 2^63), so the oracle is exact."""
    docs = D.spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # Vocab-sized eager checkpoint (round 15): the (term, cnt, fp) table
    # feeds BOTH the d×w cell rollup and the final exact-count join, and
    # the un-staged plan re-ran the corpus tokenize+explode+aggregate per
    # consumer (4 parquet scans, zero exchange reuse) while the duplicated
    # per-term Horner fingerprint tree alone cost ~1.3 s of Catalyst
    # analysis.  Heaps'-law vocab rows, never the corpus (guide §1.3).
    vocab = vocab.withColumn(
        "fp", TX.char_fingerprint(F.col("term"))
    ).localCheckpoint(eager=True)

    def cell(j: int, fp: F.Column) -> F.Column:
        return (
            (F.lit(_CMS_A[j]) * fp + F.lit(_CMS_B[j])) % F.lit(_FP_MOD)
        ) % F.lit(_CMS_W)

    cells = (
        vocab.select(
            "cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            cell(j, F.col("fp")).alias("cell"),
                        )
                        for j in range(4)
                    ]
                )
            ).alias("jc"),
        )
        .select(F.col("jc.j").alias("j"), F.col("jc.cell").alias("cell"), "cnt")
        .groupBy("j", "cell")
        .agg(F.sum("cnt").alias("c"))
    )
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CMS_PROBES])).alias("term")
    )
    ph = probes.withColumn("fp", TX.char_fingerprint(F.col("term")))
    pc = ph.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), cell(j, F.col("fp")).alias("cell")
                    )
                    for j in range(4)
                ]
            )
        ).alias("jc"),
    ).select("term", F.col("jc.j").alias("j"), F.col("jc.cell").alias("cell"))
    est = (
        F.broadcast(pc)
        .join(cells, ["j", "cell"])
        .groupBy("term")
        .agg(F.min("c").alias("est"))
    )
    return (
        est.join(F.broadcast(vocab.select("term", "cnt")), "term", "left")
        .select(
            "term",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("exact"),
            F.col("est").cast("long").alias("est"),
            (F.col("est") - F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# gaps-and-islands: runs of equal value
# ---------------------------------------------------------------------------


@query(
    "window_gaps_islands",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
               FROM events),
    d AS (SELECT user_id, event_type, t, event_id,
                 CASE WHEN lag(event_type) OVER w IS NULL
                        OR lag(event_type) OVER w <> event_type
                      THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
    s AS (SELECT user_id, event_type, event_id,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM d),
    runs AS (SELECT user_id, event_type,
                    count(*) AS run_len,
                    min(event_id) AS start_event
             FROM s GROUP BY user_id, event_type, island),
    r AS (SELECT user_id, event_type, run_len, start_event,
                 row_number() OVER (ORDER BY run_len DESC, user_id,
                                    start_event) AS rk
          FROM runs)
    SELECT CAST(rk AS BIGINT) AS rk, user_id, event_type,
           CAST(run_len AS BIGINT) AS run_len,
           CAST(start_event AS BIGINT) AS start_event
    FROM r WHERE rk <= 20
    """,
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> SDF:
    """Gaps-and-islands over VALUE runs: the longest streaks of
    consecutive same-type events per user (sessionize_batch is the
    time-gap variant of the same pattern; this is the categorical-run
    variant — retention streaks, repeated-failure runs, bot-like
    repetition detection).

    Scale: ONE shuffle on user_id — the lag window, the running
    break-count window and the (user, type, island) rollup all ride the
    same hash partitioning, so Catalyst plans exactly one Exchange.
    Ordering is (event-time µs, event_id): exact int64 with a unique
    tie-break, so island boundaries are deterministic on both engines.
    The top-20 is TakeOrderedAndProject with a unique
    (run_len, user, start_event) order — no global sort."""
    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("t"), "event_id"
    )
    wl = W.partitionBy("user_id").orderBy("t", "event_id")
    brk = F.when(
        F.lag("event_type").over(wl).isNull()
        | (F.lag("event_type").over(wl) != F.col("event_type")),
        F.lit(1),
    ).otherwise(F.lit(0))
    s = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.sum(brk).over(
            wl.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("island"),
    )
    runs = s.groupBy("user_id", "event_type", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("event_id").alias("start_event"),
    )
    # global window [window-group-limit]: rk <= 20 over per-(user,type,island)
    # run aggregates
    # (inventoried in tests/test_window_audit.py)
    wr = W.orderBy(F.desc("run_len"), F.asc("user_id"), F.asc("start_event"))
    return (
        runs.select(
            F.row_number().over(wr).cast("long").alias("rk"),
            "user_id",
            "event_type",
            F.col("run_len").cast("long").alias("run_len"),
            F.col("start_event").cast("long").alias("start_event"),
        )
        .where(F.col("rk") <= 20)
    )


# ---------------------------------------------------------------------------
# mutual information / entropy over a contingency table
# ---------------------------------------------------------------------------


@query(
    "stats_mutual_info",
    """
    WITH cells AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
                   FROM documents GROUP BY lang, source),
    tot AS (SELECT sum(o) AS n FROM cells),
    rt AS (SELECT lang, sum(o) AS r FROM cells GROUP BY lang),
    ct AS (SELECT source, sum(o) AS c FROM cells GROUP BY source),
    mi_t AS (SELECT round((o / n) * ln(o * n / (r * c)), 9) AS v
             FROM cells JOIN tot ON true JOIN rt USING (lang)
                  JOIN ct USING (source)),
    hl_t AS (SELECT round(-(r / n) * ln(r / n), 9) AS v FROM rt, tot),
    hs_t AS (SELECT round(-(c / n) * ln(c / n), 9) AS v FROM ct, tot),
    hj_t AS (SELECT round(-(o / n) * ln(o / n), 9) AS v FROM cells, tot)
    SELECT
      round(CAST((SELECT sum(CAST(v AS DECIMAL(38,9))) FROM mi_t)
                 AS DOUBLE), 6) AS mi,
      round(CAST((SELECT sum(CAST(v AS DECIMAL(38,9))) FROM hl_t)
                 AS DOUBLE), 6) AS h_lang,
      round(CAST((SELECT sum(CAST(v AS DECIMAL(38,9))) FROM hs_t)
                 AS DOUBLE), 6) AS h_source,
      round(CAST((SELECT sum(CAST(v AS DECIMAL(38,9))) FROM hj_t)
                 AS DOUBLE), 6) AS h_joint,
      CAST((SELECT n FROM tot) AS BIGINT) AS n
    """,
)
def stats_mutual_info(spark: SparkSession, sf_dir: str) -> SDF:
    """Mutual information I(lang; source) plus the marginal and joint
    entropies, in nats, from one contingency pass — the
    information-theoretic twin of stats_chi2 (same cells, different
    question: HOW MANY bits of language does knowing the source buy?).
    The mixture-design readout: I ≈ 0 → sources are language-balanced;
    I ≈ H(lang) → source determines language and per-source sampling
    must rebalance.

    Scale: identical shape to stats_chi2 — ONE O(rows) shuffle builds
    the cells; every entropy term lives in a cells/marginal-sized frame.
    The cells frame is localCheckpoint'ed (it is lang×source rows, a few
    dozen) because FOUR independent aggregates fold off it — without the
    cut, each re-runs the corpus groupBy and the one O(rows) shuffle
    becomes four (observed: 68 exchanges in the un-cut plan).  Each term
    is rounded to 9 decimals in those tiny frames and the sums
    DECIMAL-fold the rounded values, so the result is partition-order
    independent without pinning any fold to one task."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    ).localCheckpoint(eager=True)
    tot = F.broadcast(cells.agg(F.sum("o").alias("n")))
    rt = cells.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("source").agg(F.sum("o").alias("c"))

    def dsum9(df: SDF, term: F.Column, alias: str) -> SDF:
        return df.select(F.round(term, 9).alias("v")).agg(
            F.round(
                F.sum(F.col("v").cast("decimal(38,9)")).cast("double"), 6
            ).alias(alias)
        )

    mi = dsum9(
        cells.crossJoin(tot).join(rt, "lang").join(ct, "source"),
        (F.col("o") / F.col("n"))
        * F.log(F.col("o") * F.col("n") / (F.col("r") * F.col("c"))),
        "mi",
    )
    hl = dsum9(
        rt.crossJoin(tot),
        -(F.col("r") / F.col("n")) * F.log(F.col("r") / F.col("n")),
        "h_lang",
    )
    hs = dsum9(
        ct.crossJoin(tot),
        -(F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n")),
        "h_source",
    )
    hj = dsum9(
        cells.crossJoin(tot),
        -(F.col("o") / F.col("n")) * F.log(F.col("o") / F.col("n")),
        "h_joint",
    )
    return (
        mi.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(hj))
        .crossJoin(tot.select(F.col("n").cast("bigint").alias("n")))
    )


# ---------------------------------------------------------------------------
# streaming checkpoint-restart recovery (exactly-once across a restart)
# ---------------------------------------------------------------------------


_LAST_RESTART_OFFSETS: list = []


def _restart_src_files(spark: SparkSession, sf_dir: str) -> list:
    """Write-once multi-file staging of events (8 parquet files, keyed by
    the source fingerprint like sources.tables._materialize) so the
    restart test has real file-source offsets to checkpoint across."""
    import os

    from ..sources.tables import publish_store, store_path

    out = publish_store(
        store_path(sf_dir, "restart_stage", ("events",)),
        lambda tmp: load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .repartition(8).write.mode("overwrite").parquet(tmp),
    )
    return sorted(
        os.path.join(out, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )


@query(
    "stream_restart_recovery",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_restart_recovery(spark: SparkSession, sf_dir: str) -> SDF:
    """Exactly-once recovery across a stream RESTART: a file-source →
    file-sink stream drains half the input files and STOPS; more files
    arrive; a NEW query instance restarts from the same checkpoint and
    drains the rest.  The final landing must equal the batch aggregate —
    no rows lost at the stop boundary, none replayed after it.  This is
    the fault-tolerance contract every 100 TB ingest leans on: the
    checkpoint's offset log says which files batch N committed, and the
    parquet sink's _spark_metadata transaction log makes those batches
    atomic — a batch read of the landing sees only committed files.

    Scale: the recovery cost is O(checkpoint), not O(data) — restart
    replays at most the one uncommitted batch.  The aggregate itself is
    ordinary JVM hash aggregation; exact DECIMAL folding makes the sum
    engine-identical."""
    import os
    import shutil

    files = _restart_src_files(spark, sf_dir)
    tag = (
        f"{source_fingerprint(sf_dir, ('events',))}_{os.getpid()}"
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    # Sweep same-prefix dirs left by DEAD pids first: these live in
    # RAM-backed tmpfs and each crashed/killed run would otherwise leave
    # ~3 copies of the events data resident forever (r5 advisor note).
    # Per-run prefixes only — the broad "spark_graft_restart_" prefix
    # would also match the pid-less write-once STAGE store, whose
    # all-decimal fingerprints a pid parse can mistake (r6 review).
    for p in ("spark_graft_restart_src_", "spark_graft_restart_ckpt_",
              "spark_graft_restart_out_"):
        _sweep_dead_pid_dirs(base, p)
    src = f"{base}/spark_graft_restart_src_{tag}"
    ckpt = f"{base}/spark_graft_restart_ckpt_{tag}"
    landing = f"{base}/spark_graft_restart_out_{tag}"
    for d in (src, ckpt, landing):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)

    schema = read_parquet(spark, os.path.dirname(files[0])).schema

    def drain() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", landing)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    half = len(files) // 2
    global _LAST_RESTART_OFFSETS
    try:
        for f in files[:half]:
            shutil.copy(f, os.path.join(src, os.path.basename(f)))
        drain()  # first instance: drains half the files, then stops
        for f in files[half:]:
            shutil.copy(f, os.path.join(src, os.path.basename(f)))
        drain()  # RESTARTED instance: resumes from checkpointed offsets

        # Evidence for the restart test, captured BEFORE cleanup: the
        # checkpoint offset log's batch ids prove instance 2 resumed
        # (batch >= 2) rather than restarting from scratch.
        import glob as _glob

        _LAST_RESTART_OFFSETS = sorted(
            int(os.path.basename(p))
            for p in _glob.glob(os.path.join(ckpt, "offsets", "*"))
            if os.path.basename(p).isdigit()
        )
        back = read_parquet(spark, landing)
        # Materialize the (event_type-sized) aggregate off the landing
        # files NOW so the tmpfs dirs can be removed before returning —
        # a lazy return would read the landing after the finally ran.
        return back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        ).localCheckpoint(eager=True)
    finally:
        for d in (src, ckpt, landing):
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# dynamic partition pruning over a Hive-layout sink
# ---------------------------------------------------------------------------


def _month_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Write-once lake layout for the DPP demo, keyed by the source
    fingerprint: orders partitioned by order month (Hive layout) under
    ``fact/``, plus a month DIM under ``dim/`` carrying each month's
    revenue rank — the star-schema pair DPP is built for.  The rank is
    precomputed at build time (one pass) so query time can apply a plain
    selective predicate, which is what Spark's PartitionPruning rule
    keys on (an agg+LIMIT derivation at query time does NOT qualify —
    probed, not assumed)."""
    import os

    from ..sources.tables import publish_store, store_path

    rk = (
        F.row_number()
        # global window [aggregate-sized]: store-build dim rank over
        # MONTH revenue rollup (~tens of rows)
        # (inventoried in tests/test_window_audit.py)
        .over(W.orderBy(F.desc("rev"), F.asc("o_ym")))
        .alias("rk")
    )

    def write(tmp: str) -> None:
        fact = load_table(spark, sf_dir, "orders").withColumn(
            "o_ym", F.date_format("o_orderdate", "yyyy-MM")
        )
        fact.write.mode("overwrite").partitionBy("o_ym").parquet(
            os.path.join(tmp, "fact")
        )
        dim = (
            fact.groupBy("o_ym")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
            )
            .select("o_ym", rk)
        )
        dim.write.mode("overwrite").parquet(os.path.join(tmp, "dim"))

    return publish_store(
        store_path(sf_dir, "dpp_orders_v2", ("orders",)), write
    )


@query(
    "scan_partition_pruned",
    """
    WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS o_ym,
                      sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
               FROM orders GROUP BY 1),
    dim AS (SELECT o_ym FROM m ORDER BY rev DESC, o_ym LIMIT 2)
    SELECT o.o_ym, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS revenue
    FROM (SELECT strftime(o_orderdate, '%Y-%m') AS o_ym, o_totalprice
          FROM orders) o
    JOIN dim USING (o_ym)
    GROUP BY o.o_ym
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> SDF:
    """Dynamic partition pruning (DPP): a month-partitioned Hive-layout
    orders fact joined to a month dim filtered to the top-2 revenue
    months — Spark injects the dim's surviving keys as a partition
    filter into the fact scan AT RUNTIME
    (`dynamicpruningexpression(o_ym IN dynamicpruning#N)` in the scan's
    PartitionFilters; asserted by tests/test_tier7.py), so only 2 of
    ~80 month directories are read.

    Scale: THE scan-reduction mechanism for time-partitioned lakes — a
    100 TB fact joined to a filtered dim reads only the matching
    partitions, and no static WHERE clause could express a
    runtime-derived key set.  The dim's revenue rank is precomputed in
    the artifact (revenue folds in DECIMAL, rank ties broken by month,
    so the dim is engine-identical); the query-time predicate is the
    plain selective filter the PartitionPruning rule keys on."""
    import os

    base = _month_partitioned_orders(spark, sf_dir)
    fact = read_parquet(spark, os.path.join(base, "fact"))
    dim = (
        read_parquet(spark, os.path.join(base, "dim"))
        .where(F.col("rk") <= 2)
        .select("o_ym")
    )
    return (
        fact.join(dim, "o_ym")
        .groupBy("o_ym")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# corpus novelty: first-occurrence n-gram fraction
# ---------------------------------------------------------------------------


@query(
    "text_ngram_novelty",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    a AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3])) AS sh
          FROM t WHERE len(toks) >= 4),
    g AS (SELECT doc_id, unnest(sh) AS gram FROM a),
    fo AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
    nv AS (SELECT g.doc_id, count(*) AS n_novel
           FROM g JOIN fo USING (gram)
           WHERE fo.first_doc = g.doc_id GROUP BY g.doc_id)
    SELECT a.doc_id,
           CAST(len(a.sh) AS BIGINT) AS n_grams,
           CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
           round(CAST(coalesce(nv.n_novel, 0) AS DOUBLE) / len(a.sh), 4)
             AS novelty_frac
    FROM a LEFT JOIN nv USING (doc_id)
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> SDF:
    """Corpus-order novelty scoring: the fraction of a document's
    distinct 4-grams whose FIRST corpus occurrence (min doc_id = ingest
    order) is this document.  Low novelty = the document mostly restates
    earlier corpus content — the incremental-value signal used to rank
    crawl snapshots and dedup-adjacent near-copies that survive
    exact/minhash passes (complements text_boilerplate_ngram, which
    scores cross-document frequency rather than precedence).

    Scale: identical hash-only discipline to the boilerplate op — grams
    leave the doc as 8-byte xxhash64 fingerprints, the first-occurrence
    table is ONE (hash → min doc_id) shuffle (map-side combined min),
    and the rejoin carries (doc_id, hash) pairs.  The gram arrays are
    localCheckpoint'ed once and feed both the explode and the n_grams
    projection."""
    docs = load_table(spark, sf_dir, "documents")
    th = docs.select(
        "doc_id",
        F.transform(TX.tokens(F.col("text")), lambda t: F.xxhash64(t)).alias(
            "th"
        ),
    )
    arr = (
        D.spread(th)
        .where(F.size("th") >= 4)
        .select("doc_id", D.token_hash_shingles(F.col("th"), 4).alias("sh"))
        .localCheckpoint(eager=True)
    )
    g = arr.select("doc_id", F.explode("sh").alias("gh"))
    fo = g.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    nv = (
        g.join(fo, "gh")
        .where(F.col("first_doc") == F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        arr.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
        .join(nv, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                4,
            ).alias("novelty_frac"),
        )
    )


# ---------------------------------------------------------------------------
# training-shard manifest (WebDataset-style size-bounded sharding)
# ---------------------------------------------------------------------------

_SHARD_BYTES = 65536


@query(
    "data_shard_manifest",
    f"""
    WITH d AS (SELECT doc_id, n_chars,
                      sum(n_chars) OVER (ORDER BY doc_id) - n_chars
                        AS start_off
               FROM documents),
    s AS (SELECT doc_id, n_chars,
                 CAST(floor(start_off / {_SHARD_BYTES}) AS BIGINT) AS shard
          FROM d)
    SELECT shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS bytes,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM s GROUP BY shard
    """,
)
def data_shard_manifest(spark: SparkSession, sf_dir: str) -> SDF:
    """Size-bounded shard assignment (WebDataset / tar-shard style): walk
    the corpus in ingest order, cut a new ~64 KiB shard whenever the
    running byte offset crosses a boundary, and emit the manifest a
    training dataloader consumes (shard → doc range, doc count, bytes).
    A document is assigned by its START offset, so shard boundaries
    never split a document and assignment is a pure function of the
    prefix sum.

    Scale: the textbook formulation is a GLOBAL ordered cumsum — a
    single-task window over the whole corpus.  Here the prefix sum is
    two-phase (same shape as stats_ks_test): per-bucket byte totals
    (doc_id div 1000) feed a window over the TINY bucket aggregate for
    cumulative offsets; within-bucket cumsums run partitioned by
    bucket.  No unpartitioned window ever touches document rows, so the
    manifest stays parallel at corpus scale; the output is
    shard-cardinality (total bytes / 64 KiB)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucketed = docs.withColumn(
        "bucket", (F.col("doc_id") / 1000).cast("long")
    )
    btot = bucketed.groupBy("bucket").agg(F.sum("n_chars").alias("bt"))
    # global window [aggregate-sized]: shard prefix offsets over BUCKET byte
    # totals (doc_id/1000 buckets)
    # (inventoried in tests/test_window_audit.py)
    w_b = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    offs = btot.select(
        "bucket", (F.sum("bt").over(w_b) - F.col("bt")).alias("off")
    )
    w_d = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = (
        bucketed.withColumn("wc", F.sum("n_chars").over(w_d))
        .join(F.broadcast(offs), "bucket")
        .select(
            "doc_id",
            "n_chars",
            F.floor(
                (F.col("off") + F.col("wc") - F.col("n_chars"))
                / F.lit(_SHARD_BYTES)
            )
            .cast("long")
            .alias("shard"),
        )
    )
    return s.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("bytes"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------


@query(
    "graph_triangle_count",
    """
    WITH pr AS (SELECT DISTINCT
                  least(o_custkey % 4096, o_orderkey % 4096) AS lo,
                  greatest(o_custkey % 4096, o_orderkey % 4096) AS hi
                FROM orders
                WHERE o_custkey % 4096 <> o_orderkey % 4096),
    deg AS (SELECT node, count(*) AS d FROM (
              SELECT lo AS node FROM pr
              UNION ALL SELECT hi AS node FROM pr) GROUP BY node),
    o AS (SELECT CASE WHEN (d1.d, pr.lo) < (d2.d, pr.hi)
                      THEN pr.lo ELSE pr.hi END AS s,
                 CASE WHEN (d1.d, pr.lo) < (d2.d, pr.hi)
                      THEN pr.hi ELSE pr.lo END AS t,
                 CASE WHEN (d1.d, pr.lo) < (d2.d, pr.hi)
                      THEN d2.d ELSE d1.d END AS dt
          FROM pr JOIN deg d1 ON d1.node = pr.lo
                  JOIN deg d2 ON d2.node = pr.hi),
    w AS (SELECT o1.t AS v, o2.t AS w
          FROM o o1 JOIN o o2 ON o1.s = o2.s
          WHERE (o1.dt, o1.t) < (o2.dt, o2.t)),
    tri AS (SELECT count(*) AS n_triangles
            FROM w SEMI JOIN o ON o.s = w.v AND o.t = w.w)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM pr) AS BIGINT) AS n_edges,
           CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> SDF:
    """Triangle counting with DEGREE-ORDERED ORIENTATION over the
    mod-projected order↔customer graph (nodes = keys mod 4096; a
    deterministic stand-in for any co-occurrence graph) — the third
    classic graph kernel next to dedup_components (connectivity) and
    graph_pagerank (centrality); triangle density drives community /
    spam-cluster detection over link graphs.

    Scale: the naive 3-way self-join explodes on hub nodes (a degree-D
    hub contributes D² wedges).  Orienting every edge from its
    lower-(degree, id) endpoint bounds each node's out-degree by
    O(sqrt(edges)) — the classic Schank/Wagner bound — so wedge
    generation is Σ out_deg², worst-case O(edges^1.5), NOT Σ deg².
    Each triangle is counted exactly once (its vertices appear in
    orientation order).  Three shuffles total: edge dedup, degree
    count, and the wedge equi-join on the shared source; the closing
    check is a LEFT SEMI join back on the oriented edge key.  All
    integer arithmetic — exact oracle."""
    orders = load_table(spark, sf_dir, "orders")
    a = (F.col("o_custkey") % 4096).alias("a")
    b = (F.col("o_orderkey") % 4096).alias("b")
    pr = (
        orders.select(a, b)
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Degree table checkpointed once (round 15, guide §1.3/§2.4): it is
    # consumed THREE times (both orientation joins and n_nodes), and it
    # is nodes-sized (≤ 4096 rows here — the mod-projection bound), so
    # the barrier is trivial while each consumer re-ran the edge-union
    # aggregate before.  Both orientation joins broadcast it explicitly:
    # the checkpointed edge list has UnknownPartitioning, so the
    # un-hinted joins shuffled the edges twice for a dimension that fits
    # in one task.
    deg = (
        pr.select(F.col("lo").alias("node"))
        .unionAll(pr.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    j = (
        pr.join(
            F.broadcast(
                deg.withColumnRenamed("node", "lo").withColumnRenamed("d", "d1")
            ),
            "lo",
        )
        .join(
            F.broadcast(
                deg.withColumnRenamed("node", "hi").withColumnRenamed("d", "d2")
            ),
            "hi",
        )
    )
    lo_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("lo") < F.col("hi"))
    )
    o = j.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("s"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("t"),
        F.when(lo_first, F.col("d2")).otherwise(F.col("d1")).alias("dt"),
    ).localCheckpoint(eager=True)
    o1 = o.select(
        F.col("s"), F.col("t").alias("v"), F.col("dt").alias("dv")
    )
    o2 = o.select(
        F.col("s"), F.col("t").alias("w"), F.col("dt").alias("dw")
    )
    wedge = o1.join(o2, "s").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    tri = wedge.join(
        o.select(F.col("s").alias("v"), F.col("t").alias("w")),
        ["v", "w"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    n_edges = pr.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(
            F.broadcast(tri.select(F.col("n_triangles").cast("bigint")))
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ asymmetric-distance search (the composed ANN index)
# ---------------------------------------------------------------------------

_SQD8 = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(range(1, 9), i -> ({l}[i] - {r}[i]) * ({l}[i] - {r}[i]))),"
    " (a, b) -> a + b)"
)
_COS = (
    "list_inner_product({l}, {r}) / "
    "(sqrt(list_inner_product({l}, {l})) * sqrt(list_inner_product({r}, {r})))"
)


@query(
    "sim_search_ivf_pq",
    f"""
    WITH x0 AS (SELECT vec_id AS vid,
                       list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
                FROM embeddings),
    x AS (SELECT * FROM x0 WHERE len(v) = 64),
    cent0 AS (
      SELECT CAST(label AS BIGINT) AS cell, list(c ORDER BY pos) AS cvec
      FROM (
        SELECT label, pos,
               round(CAST(sum(CAST(CAST(ev AS DOUBLE) AS DECIMAL(38,12)))
                     AS DOUBLE) / count(*), 6) AS c
        FROM (SELECT label, unnest(embedding) AS ev,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings)
        GROUP BY label, pos) GROUP BY label),
    cent AS (SELECT * FROM cent0 WHERE list_inner_product(cvec, cvec) > 0),
    e AS (SELECT vid, v FROM x WHERE list_inner_product(v, v) > 0),
    cs AS (SELECT e.vid, c.cell, {_COS.format(l='e.v', r='c.cvec')} AS csim
           FROM e CROSS JOIN cent c),
    assigned AS (SELECT vid, cell FROM (
                   SELECT vid, cell,
                          row_number() OVER (PARTITION BY vid
                                             ORDER BY csim DESC, cell) AS crk
                   FROM cs) WHERE crk = 1),
    cb AS (SELECT s.s, x.vid AS cid, x.v[s.s * 8 + 1 : s.s * 8 + 8] AS c
           FROM x, (SELECT unnest(range(0, 8)) AS s) s WHERE x.vid < 16),
    sv AS (SELECT x.vid, s.s, x.v[s.s * 8 + 1 : s.s * 8 + 8] AS sub
           FROM x, (SELECT unnest(range(0, 8)) AS s) s),
    codes AS (SELECT vid, s, cid AS code FROM (
                SELECT sv.vid, sv.s, cb.cid,
                       row_number() OVER (
                         PARTITION BY sv.vid, sv.s
                         ORDER BY {_SQD8.format(l='sv.sub', r='cb.c')}, cb.cid)
                         AS rk
                FROM sv JOIN cb ON sv.s = cb.s) WHERE rk = 1),
    lut AS (SELECT q.vid AS qid, q.s, cb.cid,
                   round({_SQD8.format(l='q.sub', r='cb.c')}, 6) AS term
            FROM sv q JOIN cb ON q.s = cb.s WHERE q.vid < 3),
    qc AS (SELECT vid AS qid, cell FROM assigned WHERE vid < 3),
    cand AS (SELECT qc.qid, a.vid FROM assigned a
             JOIN qc ON a.cell = qc.cell AND a.vid <> qc.qid),
    adc AS (SELECT cand.qid, cand.vid,
                   CAST(sum(CAST(lut.term AS DECIMAL(38,6))) AS DOUBLE)
                     AS adc_dist
            FROM cand
            JOIN codes ON codes.vid = cand.vid
            JOIN lut ON lut.qid = cand.qid AND lut.s = codes.s
                    AND lut.cid = codes.code
            GROUP BY cand.qid, cand.vid),
    r AS (SELECT qid, vid, adc_dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY adc_dist, vid) AS rk
          FROM adc)
    SELECT qid, vid, adc_dist, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5
    """,
)
def sim_search_ivf_pq(spark: SparkSession, sf_dir: str) -> SDF:
    """IVF-PQ with asymmetric distance computation (ADC) — the composed
    billion-vector ANN index (Jégou et al.): the IVF coarse quantizer
    (sim_search_ivf's label-centroid cells) prunes the corpus to the
    query's cell, then PQ codes (emb_pq_codebook's 8×16 codebook) stand
    in for the vectors and the query scores candidates from a
    128-entry per-query lookup table instead of raw 64-dim math.

    Scale: this is why PQ exists — candidates are scored from their
    8-BYTE codes via the broadcast LUT (8 adds per candidate), so the
    probe never touches the 512-byte raw vectors; at 100 TB the corpus
    is stored partitioned by IVF cell with codes inline, and a query
    reads one cell's codes.  Everything deterministic: centroids are
    DECIMAL-folded label means, code argmin ties break on lowest code,
    LUT terms are rounded at 6 then DECIMAL-folded per candidate, rank
    ties break on vid — full oracle for an approximate index."""
    from ..functions import similarity as S
    from .tier3 import emb_centroid

    emb = D.spread(load_table(spark, sf_dir, "embeddings"))
    x = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).where(F.size("v") == 64)
    cent = (
        emb_centroid(spark, sf_dir)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").cast("long").alias("cell"),
            F.transform("pc", lambda p: p["c"]).alias("cvec"),
        )
    )
    # Narrow (vid, cell) checkpoint — 16 B/row, NO embedding payload, so
    # the cosine_topk_ivf negative result (wide-payload barrier) does
    # not apply: both the query-cell probe and the candidate join read
    # the assignment, and un-staged each consumer re-ran the centroid
    # scan + broadcast-argmax leg (round 15, guide §1.3).
    assigned = (
        S.ivf_assign(x.select("vid", F.col("v").alias("vvec")), cent)
        .select("vid", "cell")
        .localCheckpoint(eager=True)
    )

    subs = F.sequence(F.lit(0), F.lit(7))
    # codebook packed per subspace, cid-sorted (emb_pq_codebook shape)
    cb = (
        x.where(F.col("vid") < 16)
        .select(
            F.col("vid").alias("cid"),
            F.explode(
                F.transform(
                    subs,
                    lambda s: F.struct(
                        s.alias("s"),
                        F.slice(F.col("v"), s * 8 + 1, 8).alias("c"),
                    ),
                )
            ).alias("sc"),
        )
        .select("cid", F.col("sc.s").alias("s"), F.col("sc.c").alias("c"))
        .groupBy("s")
        .agg(F.sort_array(F.collect_list(F.struct("cid", "c"))).alias("cents"))
    )
    sv = x.select(
        "vid",
        F.explode(
            F.transform(
                subs,
                lambda s: F.struct(
                    s.alias("s"), F.slice(F.col("v"), s * 8 + 1, 8).alias("sub")
                ),
            )
        ).alias("ss"),
    ).select("vid", F.col("ss.s").alias("s"), F.col("ss.sub").alias("sub"))
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda ct: F.struct(
                S.sqdist(F.col("sub"), ct["c"]).alias("d"),
                ct["cid"].alias("cid"),
            ),
        )
    )
    codes = (
        sv.join(F.broadcast(cb), "s")
        .select("vid", "s", best["cid"].alias("code"))
    )
    # per-query 8x16 ADC lookup table: distance from each query subvector
    # to each codebook centroid, rounded once at table build
    lut = (
        sv.where(F.col("vid") < 3)
        .withColumnRenamed("vid", "qid")
        .join(F.broadcast(cb), "s")
        .select(
            "qid",
            "s",
            F.explode(
                F.transform(
                    F.col("cents"),
                    lambda ct: F.struct(
                        ct["cid"].alias("cid"),
                        F.round(
                            S.sqdist(F.col("sub"), ct["c"]), 6
                        ).alias("term"),
                    ),
                )
            ).alias("e"),
        )
        .select("qid", "s", F.col("e.cid").alias("cid"),
                F.col("e.term").alias("term"))
    )
    qc = assigned.where(F.col("vid") < 3).select(
        F.col("vid").alias("qid"), "cell"
    )
    cand = assigned.join(F.broadcast(qc), "cell").where(
        F.col("vid") != F.col("qid")
    ).select("qid", "vid")
    cc = cand.join(codes, "vid").alias("cc")
    lt = F.broadcast(lut).alias("lt")
    adc = (
        cc.join(
            lt,
            (F.col("cc.qid") == F.col("lt.qid"))
            & (F.col("cc.s") == F.col("lt.s"))
            & (F.col("cc.code") == F.col("lt.cid")),
        )
        .groupBy(F.col("cc.qid").alias("qid"), F.col("cc.vid").alias("vid"))
        .agg(
            F.sum(F.col("lt.term").cast("decimal(38,6)"))
            .cast("double")
            .alias("adc_dist")
        )
    )
    wr = W.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("vid"))
    return (
        adc.select(
            "qid", "vid", "adc_dist",
            F.row_number().over(wr).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 5)
    )


# ---------------------------------------------------------------------------
# runtime bloom-filter join (the non-partitioned twin of DPP)
# ---------------------------------------------------------------------------


@query(
    "join_runtime_bloom",
    """
    WITH fact AS (SELECT l_partkey,
                         sum(CAST(l_quantity AS DECIMAL(38,6))) AS qty
                  FROM lineitem GROUP BY l_partkey),
    dim AS (SELECT p_partkey, p_brand FROM part WHERE p_brand = 'Brand#11')
    SELECT dim.p_brand, count(*) AS n_parts,
           CAST(sum(fact.qty) AS DOUBLE) AS total_qty
    FROM fact JOIN dim ON fact.l_partkey = dim.p_partkey
    GROUP BY dim.p_brand
    """,
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> SDF:
    """Runtime bloom-filter join pruning — the non-partitioned twin of
    scan_partition_pruned: when the join key is NOT a partition column,
    Spark's InjectRuntimeFilter builds a Bloom sketch over the selective
    dim side at runtime and pushes ``might_contain(xxhash64(key))`` into
    the fact side BELOW its aggregation shuffle, so non-matching rows
    are dropped before they are ever shuffled (asserted in-plan by
    tests/test_tier7.py).

    The rule's gates, made explicit here because each is a scale story:
    the dim side needs a selective predicate (p_brand equality) and must
    be sketch-small; the fact side must contain a shuffle BELOW the join
    (the per-partkey rollup) — a bare scan gets nothing because there is
    no shuffle volume to save; and the fact scan must exceed
    ``applicationSideScanSizeThreshold`` (10 GiB default — a 100 TB
    fact passes naturally; scoped to 0 here because the test fact is
    MiB-sized, and restored after).  Merge-join hints keep the
    shuffle-join shape the rule targets — at real scale the dim would
    not be broadcast-eligible anyway.  All sums DECIMAL-fold."""
    thresh_key = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    before = spark.conf.get(thresh_key)
    spark.conf.set(thresh_key, "0")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        fact = li.groupBy("l_partkey").agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("qty")
        )
        dim = (
            load_table(spark, sf_dir, "part")
            .where(F.col("p_brand") == "Brand#11")
            .select("p_partkey", "p_brand")
        )
        out = (
            fact.hint("merge")
            .join(
                dim.hint("merge"),
                fact["l_partkey"] == dim["p_partkey"],
            )
            .groupBy("p_brand")
            .agg(
                F.count(F.lit(1)).alias("n_parts"),
                F.sum("qty").cast("double").alias("total_qty"),
            )
        )
        # Force optimization (InjectRuntimeFilter is an optimizer rule)
        # while the scoped conf is active: the returned frame's CACHED
        # QueryExecution carries the injected might_contain, which is
        # what the plan test asserts.  An action that re-plans later
        # (e.g. a write) under the restored default threshold simply
        # skips the bloom — same results, the filter is purely a
        # shuffle-volume optimization; at 100 TB the default 10 GiB
        # threshold passes on its own and no conf scoping exists at all.
        out._jdf.queryExecution().optimizedPlan()
        return out
    finally:
        spark.conf.set(thresh_key, before)


# ---------------------------------------------------------------------------
# minhash sketch calibration audit (estimate vs exact Jaccard)
# ---------------------------------------------------------------------------

_MH_P = 1000000007
_MH_A = (97, 128, 159, 190, 221, 252, 283, 314, 345, 376, 407, 438, 469, 500, 531, 562)
_MH_B = (11, 28, 45, 62, 79, 96, 113, 130, 147, 164, 181, 198, 215, 232, 249, 266)


@query(
    "dedup_minhash_audit",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
    tf AS (SELECT doc_id,
                  list_transform({_TOKS},
                      t -> {_fp_sql('t')}) AS tfp
           FROM documents),
    t2 AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(tfp) - 1),
                      i -> ((tfp[i] * 131 + tfp[i+1]) * 131 + tfp[i+2])
                           % 1000000007)) AS gfps
           FROM tf WHERE len(tfp) >= 3),
    g AS (SELECT doc_id, unnest(gfps) AS fp FROM t2),
    sig AS (SELECT doc_id,
               min((97 * fp + 11) % 1000000007) AS s0,
               min((128 * fp + 28) % 1000000007) AS s1,
               min((159 * fp + 45) % 1000000007) AS s2,
               min((190 * fp + 62) % 1000000007) AS s3,
               min((221 * fp + 79) % 1000000007) AS s4,
               min((252 * fp + 96) % 1000000007) AS s5,
               min((283 * fp + 113) % 1000000007) AS s6,
               min((314 * fp + 130) % 1000000007) AS s7,
               min((345 * fp + 147) % 1000000007) AS s8,
               min((376 * fp + 164) % 1000000007) AS s9,
               min((407 * fp + 181) % 1000000007) AS s10,
               min((438 * fp + 198) % 1000000007) AS s11,
               min((469 * fp + 215) % 1000000007) AS s12,
               min((500 * fp + 232) % 1000000007) AS s13,
               min((531 * fp + 249) % 1000000007) AS s14,
               min((562 * fp + 266) % 1000000007) AS s15
            FROM g GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE len(a.sh) > 0 AND len(b.sh) > 0),
    pr AS (SELECT a, b, round(j, 4) AS jaccard FROM p WHERE j >= 0.5)
    SELECT pr.a, pr.b, pr.jaccard,
           round((CAST(sa.s0 = sb.s0 AS INT) + CAST(sa.s1 = sb.s1 AS INT) + CAST(sa.s2 = sb.s2 AS INT) + CAST(sa.s3 = sb.s3 AS INT) + CAST(sa.s4 = sb.s4 AS INT) + CAST(sa.s5 = sb.s5 AS INT) + CAST(sa.s6 = sb.s6 AS INT) + CAST(sa.s7 = sb.s7 AS INT) + CAST(sa.s8 = sb.s8 AS INT) + CAST(sa.s9 = sb.s9 AS INT) + CAST(sa.s10 = sb.s10 AS INT) + CAST(sa.s11 = sb.s11 AS INT) + CAST(sa.s12 = sb.s12 AS INT) + CAST(sa.s13 = sb.s13 AS INT) + CAST(sa.s14 = sb.s14 AS INT) + CAST(sa.s15 = sb.s15 AS INT)) / 16.0, 4) AS est_jaccard,
           round(abs((CAST(sa.s0 = sb.s0 AS INT) + CAST(sa.s1 = sb.s1 AS INT) + CAST(sa.s2 = sb.s2 AS INT) + CAST(sa.s3 = sb.s3 AS INT) + CAST(sa.s4 = sb.s4 AS INT) + CAST(sa.s5 = sb.s5 AS INT) + CAST(sa.s6 = sb.s6 AS INT) + CAST(sa.s7 = sb.s7 AS INT) + CAST(sa.s8 = sb.s8 AS INT) + CAST(sa.s9 = sb.s9 AS INT) + CAST(sa.s10 = sb.s10 AS INT) + CAST(sa.s11 = sb.s11 AS INT) + CAST(sa.s12 = sb.s12 AS INT) + CAST(sa.s13 = sb.s13 AS INT) + CAST(sa.s14 = sb.s14 AS INT) + CAST(sa.s15 = sb.s15 AS INT)) / 16.0 - pr.jaccard), 4) AS abs_err
    FROM pr JOIN sig sa ON sa.doc_id = pr.a
            JOIN sig sb ON sb.doc_id = pr.b
    """,
)
def dedup_minhash_audit(spark: SparkSession, sf_dir: str) -> SDF:
    """Sketch calibration for MinHash: for every emitted near-duplicate
    pair (exact 3-shingle Jaccard >= 0.5, the dedup_near_minhash
    contract), compare the 16-component minhash ESTIMATE (fraction of
    matching signature slots) against the exact Jaccard — the
    overcount-audit pattern of agg_countmin_heavyhit applied to the
    dedup family.  The readout answers the production question behind
    every banding config: how tight is b×r really at this corpus's
    similarity range?

    The signature family is the portable (a·g + b) mod p universal hash
    over COMPOSED shingle fingerprints — each token's char fingerprint
    is computed once, gram fingerprints fold three token fps with
    Horner steps (no gram-string allocation, 3× less char work than
    fingerprinting gram strings — measured 24.8 s -> single digits at
    sf0.1) — precisely so DuckDB reproduces the signatures bit-for-bit
    and the audit itself has an exact oracle.

    Scale: signatures are ONE (doc, gram-fp) shuffle folding 16 mins
    map-side (the sketch is 128 bytes/doc); the audited pair set comes
    from the LSH-banded candidate path (corpus-squared never happens),
    and the estimate join touches pair-count rows.  Integer signature
    equality + /16.0 is exact on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    # Token fingerprints via FLAT posexplode + re-collect, NOT
    # transform(toks, char_fingerprint): a char-fold nested inside a
    # HOF lambda drops out of codegen and interprets per element
    # (measured 71 s at sf0.1); the flat form runs the same fold as a
    # top-level projection over token rows (~3 s).  sort_array on
    # (pos, fp) structs restores token order deterministically after
    # the collect shuffle.
    tokrows = (
        D.spread(docs)
        .select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .select("doc_id", "pos", TX.char_fingerprint(F.col("tok")).alias("fp"))
    )
    tfp_doc = tokrows.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "fp"))),
            lambda x: x["fp"],
        ).alias("tfp")
    )
    gfps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("tfp")) - 2),
            lambda i: (
                (
                    F.element_at("tfp", i) * 131
                    + F.element_at("tfp", i + 1)
                )
                * 131
                + F.element_at("tfp", i + 2)
            )
            % F.lit(_MH_P),
        )
    )
    t2 = tfp_doc.where(F.size("tfp") >= 3).select("doc_id", gfps.alias("gfps"))
    g = t2.select("doc_id", F.explode("gfps").alias("fp"))
    sig = g.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_MH_A[j]) * F.col("fp") + F.lit(_MH_B[j]))
                % F.lit(_MH_P)
            ).alias(f"s{j}")
            for j in range(16)
        ]
    )
    # Eager checkpoint (round 15): the estimate join consumes sig on
    # BOTH pair sides under different join keys (a resp. b), so no
    # exchange reuse applies and the whole sketch pipeline — token-fp
    # shuffle, gram Horner HOF, explode + 16-lane min aggregate —
    # executed twice.  The signature table is 128 bytes/doc.
    sig = sig.localCheckpoint(eager=True)
    pairs = D.minhash_pairs_cached(spark, sf_dir, threshold=0.5)
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    eq = sum(
        (F.col(f"sa.s{j}") == F.col(f"sb.s{j}")).cast("int")
        for j in range(16)
    )
    return (
        pairs.join(sa, pairs["a"] == F.col("sa.doc_id"))
        .join(sb, pairs["b"] == F.col("sb.doc_id"))
        .select(
            "a",
            "b",
            "jaccard",
            F.round(eq / 16.0, 4).alias("est_jaccard"),
            F.round(F.abs(eq / 16.0 - F.col("jaccard")), 4).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# permissive CSV ingestion with corrupt-row quarantine
# ---------------------------------------------------------------------------


@query(
    "scan_csv_quarantine",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    """,
)
def scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> SDF:
    """Malformed-row quarantine on CSV ingest: a landing file carrying 3
    deliberately broken lines (truncated record, non-numeric key, excess
    columns) is read PERMISSIVE with ``columnNameOfCorruptRecord`` — the
    broken lines surface as quarantine rows instead of failing the job
    or silently vanishing, and the good rows parse exactly.  This is the
    ingestion contract for raw-dump lakes: count and route the garbage,
    never abort a 100 TB load over row 37.

    Scale: the explicit schema keeps the reader single-pass (no
    inference job), the reader is splittable, and quarantine is a
    map-only predicate on the corrupt-record column — one pass, no
    shuffle before the rollup.  The corrupt count is a constant of the
    fixture (asserted against the 3 injected lines), so the oracle is
    exact."""
    import hashlib
    import os

    key = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = f"/tmp/spark_graft_csvq_{key}_{os.getpid()}.csv"
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    rows = nation.orderBy("n_nationkey").collect()  # 25 rows: dim-sized
    with open(out, "w") as fh:
        for r in rows:
            fh.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")
        fh.write("99,TRUNCATED\n")                      # missing column
        fh.write("notanint,BADKEY,7\n")                 # type mismatch
        fh.write("98,EXCESS,5,extra,columns,here\n")    # too many columns
    schema = (
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, "
        "_corrupt STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    # cache() before splitting good/corrupt: Spark's CSV corrupt-record
    # semantics require it when filtering on the corrupt column
    back = back.cache()
    good = back.where(F.col("_corrupt").isNull())
    bad = back.where(F.col("_corrupt").isNotNull())
    return (
        good.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_good"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        )
        .crossJoin(
            F.broadcast(
                bad.agg(F.count(F.lit(1)).cast("bigint").alias("n_corrupt"))
            )
        )
        .select("n_good", "n_corrupt", "key_sum")
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test over daily aggregates
# ---------------------------------------------------------------------------


@query(
    "stats_trend_mann_kendall",
    """
    WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                          count(*) AS n
                   FROM events GROUP BY event_type, day),
    s AS (SELECT a.event_type,
                 sum(CASE WHEN b.n > a.n THEN 1
                          WHEN b.n < a.n THEN -1 ELSE 0 END) AS s
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.day < b.day
          GROUP BY a.event_type),
    nd AS (SELECT event_type, count(*) AS n_days FROM daily
           GROUP BY event_type)
    SELECT s.event_type, CAST(s.s AS BIGINT) AS s,
           CAST(nd.n_days AS BIGINT) AS n_days
    FROM s JOIN nd USING (event_type)
    """,
)
def stats_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> SDF:
    """Mann-Kendall trend statistic S per event type over the daily
    event-count series — the non-parametric monotone-trend test a
    pipeline runs on its own volume metrics (S ≫ 0: growing, S ≪ 0:
    decaying, |S| small: stationary) before alerting on drift.

    Scale: the aggregate-then-analyze shape — the O(rows) work is ONE
    daily-rollup shuffle; the all-pairs sign sum runs over the
    DAY-count series (per type ~O(days²) pairs of 8-byte rows, bounded
    by the calendar, never by event volume) via a self-equi-join on
    event_type.  Pure integer comparisons — exact oracle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.alias("a")
    b = daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.n") > F.col("a.n"), 1)
                .when(F.col("b.n") < F.col("a.n"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return s.join(nd, "event_type").select(
        "event_type",
        F.col("s").cast("long").alias("s"),
        F.col("n_days").cast("long").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------


@query(
    "stats_benford_digit",
    """
    WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS BIGINT) AS digit
               FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n) AS total FROM c)
    SELECT c.digit, CAST(c.n AS BIGINT) AS n,
           round(CAST(c.n AS DOUBLE) / t.total, 6) AS observed,
           round(log10(1 + 1.0 / c.digit), 6) AS benford
    FROM c CROSS JOIN t
    """,
)
def stats_benford_digit(spark: SparkSession, sf_dir: str) -> SDF:
    """Benford's-law first-digit audit over order totals — the classic
    synthetic-data / fraud smell test: natural multi-scale amounts
    follow P(d) = log10(1 + 1/d); a flat or spiked observed column
    flags generated or manipulated values.  (TPC-H prices are uniform
    by construction, so this fixture SHOWS the deviation — which is
    the point of the audit.)

    Scale: map-only digit extraction (integer/string ops, no float
    parsing ambiguity: first digit of floor(price)) into a 9-row
    groupBy — one map-side-combined shuffle, broadcast total.  Ratios
    are identical IEEE divisions of exact ints on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = F.broadcast(c.agg(F.sum("n").alias("total")))
    return c.crossJoin(t).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
            "observed"
        ),
        F.round(F.log10(F.lit(1) + 1.0 / F.col("digit")), 6).alias("benford"),
    )


# ---------------------------------------------------------------------------
# Spark 4 parameterized SQL (named parameter markers)
# ---------------------------------------------------------------------------


@query(
    "sql_parameterized",
    """
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS revenue
    FROM orders WHERE o_totalprice > 100000
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> SDF:
    """Spark 4 parameterized SQL: named parameter markers (``:minp``)
    bound via ``spark.sql(..., args=...)`` and a DataFrame passed as a
    template table reference (``{orders}``) — the injection-safe way to
    ship user-supplied predicates into SQL (the literal never enters
    the query text, so no quoting bugs and the SAME parsed plan is
    reusable across bindings).

    Scale: purely an API-surface contract — the bound plan is identical
    to the literal one (predicate pushdown, partial aggregation all
    apply); plan-cache reuse across parameter values is what a
    dashboard issuing the same shape 10k×/day needs."""
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 AS revenue
        FROM {orders} WHERE o_totalprice > :minp
        GROUP BY o_orderpriority
        """,
        args={"minp": 100000},
        orders=orders,
    )


# ---------------------------------------------------------------------------
# curriculum ordering (quality-bucketed, source-interleaved)
# ---------------------------------------------------------------------------


@query(
    "data_curriculum_order",
    f"""
    WITH q AS (SELECT doc_id, source,
                      CAST(floor(
                        least(CAST(length(regexp_replace(text, '[^a-z]', '',
                                                         'g')) AS DOUBLE)
                              / nullif(length(text), 0), 0.999999) * 4)
                        AS BIGINT) AS bucket
               FROM documents WHERE length(text) > 0),
    i AS (SELECT doc_id, source, bucket,
                 row_number() OVER (PARTITION BY bucket, source
                                    ORDER BY doc_id) AS idx
          FROM q),
    r AS (SELECT doc_id, source, bucket, idx,
                 row_number() OVER (ORDER BY bucket DESC, idx, source,
                                    doc_id) AS pos
          FROM i)
    SELECT CAST(pos AS BIGINT) AS pos, doc_id, source,
           CAST(bucket AS BIGINT) AS bucket, CAST(idx AS BIGINT) AS idx
    FROM r WHERE pos <= 40
    """,
)
def data_curriculum_order(spark: SparkSession, sf_dir: str) -> SDF:
    """Curriculum ordering for training data: bucket documents by a
    cheap quality signal (alpha-character ratio, 4 bands), emit
    highest-quality first, and INTERLEAVE sources within each band
    (round-robin on the per-(band, source) index) so no source
    monopolizes a training phase — the deterministic data-ordering
    recipe behind quality-curriculum pretraining runs.

    Scale: the quality signal is map-only; the per-(bucket, source)
    index is a well-partitioned window; only the final position is a
    global order, emitted here as a top-k (TakeOrderedAndProject via
    the WindowGroupLimit rewrite) — a full materialization would use
    write-time range partitioning on (bucket DESC, idx) instead of a
    single-task sort.  All ordering keys are exact ints/strings with a
    doc_id tie-break."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") > 0
    )
    alpha = F.length(F.regexp_replace("text", "[^a-z]", "")).cast(
        "double"
    ) / F.nullif(F.length("text"), F.lit(0))
    q = docs.select(
        "doc_id",
        "source",
        F.floor(F.least(alpha, F.lit(0.999999)) * 4)
        .cast("long")
        .alias("bucket"),
    )
    wi = W.partitionBy("bucket", "source").orderBy("doc_id")
    i = q.select(
        "doc_id", "source", "bucket", F.row_number().over(wi).alias("idx")
    )
    # global window [window-group-limit]: pos <= 40 over the interleaved
    # (bucket,idx) order
    # (inventoried in tests/test_window_audit.py)
    wr = W.orderBy(
        F.desc("bucket"), F.asc("idx"), F.asc("source"), F.asc("doc_id")
    )
    return (
        i.select(
            F.row_number().over(wr).cast("long").alias("pos"),
            "doc_id",
            "source",
            F.col("bucket").cast("long"),
            F.col("idx").cast("long"),
        )
        .where(F.col("pos") <= 40)
    )


# ---------------------------------------------------------------------------
# ML featurization: hashing trick + target encoding
# ---------------------------------------------------------------------------


@query(
    "feature_hashing",
    f"""
    WITH f AS (SELECT doc_id,
                      ({_fp_sql("'lang=' || lang")}) % 64 AS h_lang,
                      ({_fp_sql("'source=' || source")}) % 64 AS h_src
               FROM documents),
    x AS (SELECT doc_id, h_lang AS slot FROM f
          UNION ALL SELECT doc_id, h_src AS slot FROM f)
    SELECT slot, count(*) AS n, CAST(count(DISTINCT doc_id) AS BIGINT)
             AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM x GROUP BY slot
    """,
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> SDF:
    """The hashing trick (feature hashing): categorical features map to
    a fixed 64-slot space via the portable fingerprint of
    ``name=value`` — no vocabulary pass, no dictionary to broadcast,
    stable across batches — the featurization that lets a tabular model
    train on unbounded-cardinality categoricals.  Output is the slot
    occupancy table (collisions visible as multi-feature slots), the
    audit a feature platform runs when sizing the hash space.

    Scale: ONE map-only projection computes every feature's slot (the
    fingerprint prefix ``name=`` keeps distinct features from
    colliding trivially); the occupancy rollup is a 64-row
    map-side-combined groupBy.  No vocabulary state is the point: at
    100 TB a dictionary encode needs a giant broadcast or join, the
    hash needs neither."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        (
            TX.char_fingerprint(F.concat(F.lit("lang="), F.col("lang")))
            % 64
        ).alias("h_lang"),
        (
            TX.char_fingerprint(F.concat(F.lit("source="), F.col("source")))
            % 64
        ).alias("h_src"),
    )
    x = f.select("doc_id", F.col("h_lang").alias("slot")).unionAll(
        f.select("doc_id", F.col("h_src").alias("slot"))
    )
    return x.groupBy("slot").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


@query(
    "feature_target_encode",
    """
    WITH lab AS (SELECT doc_id, lang, source,
                        CAST(n_chars > 250 AS INT) AS y
                 FROM documents),
    g AS (SELECT source, count(*) AS n, sum(y) AS pos FROM lab
          GROUP BY source),
    p AS (SELECT CAST(sum(pos) AS DOUBLE) / sum(n) AS prior FROM g)
    SELECT g.source, CAST(g.n AS BIGINT) AS n,
           round((g.pos + 10.0 * p.prior) / (g.n + 10.0), 6)
             AS encoded,
           round(p.prior, 6) AS prior
    FROM g CROSS JOIN p
    """,
)
def feature_target_encode(spark: SparkSession, sf_dir: str) -> SDF:
    """Smoothed target encoding: replace the categorical ``source`` with
    the shrunk per-category target mean (m=10 pseudo-observations of
    the global prior) — the classic high-cardinality featurization,
    with the smoothing that keeps rare categories from memorizing their
    few labels (the leakage failure mode target encoding is infamous
    for).  Label here: the document-length proxy y = n_chars > 250.

    Scale: one map-side-combined (category) rollup carries BOTH count
    and positive count; the prior folds off that rollup and broadcasts
    back — encoding 10⁹ categories is exactly this one shuffle.  The
    encode is exact-int arithmetic + one IEEE division, rounded at 6 on
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    lab = docs.select(
        "source", (F.col("n_chars") > 250).cast("int").alias("y")
    )
    g = lab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    p = F.broadcast(
        g.agg(
            (F.sum("pos").cast("double") / F.sum("n")).alias("prior")
        )
    )
    return g.crossJoin(p).select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("pos") + 10.0 * F.col("prior")) / (F.col("n") + 10.0), 6
        ).alias("encoded"),
        F.round("prior", 6).alias("prior"),
    )


# ---------------------------------------------------------------------------
# population stability index (distribution drift between vintages)
# ---------------------------------------------------------------------------


@query(
    "stats_psi_drift",
    """
    WITH half AS (SELECT CAST(floor(o_totalprice / 60000) AS BIGINT) AS bin,
                         CAST(o_orderdate >= DATE '1995-01-01' AS INT)
                           AS recent
                  FROM orders),
    b AS (SELECT least(bin, 9) AS bin,
                 sum(1 - recent) AS n_ref, sum(recent) AS n_new
          FROM half GROUP BY least(bin, 9)),
    t AS (SELECT sum(n_ref) AS tr, sum(n_new) AS tn FROM b),
    r AS (SELECT bin,
                 (n_ref + 0.5) / (t.tr + 5.0) AS p,
                 (n_new + 0.5) / (t.tn + 5.0) AS q
          FROM b CROSS JOIN t),
    terms AS (SELECT bin, round((p - q) * ln(p / q), 9) AS v FROM r)
    SELECT round(CAST(sum(CAST(v AS DECIMAL(38,9))) AS DOUBLE), 6) AS psi,
           CAST((SELECT tr FROM t) AS BIGINT) AS n_ref,
           CAST((SELECT tn FROM t) AS BIGINT) AS n_new,
           CAST(count(*) AS BIGINT) AS n_bins
    FROM terms
    """,
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> SDF:
    """Population Stability Index between two data vintages (orders
    before/after 1995 as the reference/new split): PSI = Σ (p−q)·ln(p/q)
    over fixed price bins, the standard drift alarm a feature platform
    runs per column per day (rule of thumb: >0.2 = investigate).
    Laplace-smoothed (+0.5/bin) so an empty bin never produces ±inf —
    the degenerate-input contract of the stats family.

    Scale: ONE map-side-combined rollup builds both vintage histograms
    simultaneously (bin, ref-count, new-count — no second pass, no
    join of two aggregations); the PSI fold runs over the 10-row bin
    table with the round-then-DECIMAL-fold discipline.  Bin width is
    fixed (not quantile-derived), so the histogram needs no global
    sort."""
    orders = load_table(spark, sf_dir, "orders")
    half = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / 60000).cast("long"), F.lit(9)
        ).alias("bin"),
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("recent"),
    )
    b = half.groupBy("bin").agg(
        F.sum(1 - F.col("recent")).alias("n_ref"),
        F.sum("recent").alias("n_new"),
    )
    t = F.broadcast(
        b.agg(F.sum("n_ref").alias("tr"), F.sum("n_new").alias("tn"))
    )
    r = b.crossJoin(t).select(
        "bin",
        "tr",
        "tn",
        ((F.col("n_ref") + 0.5) / (F.col("tr") + 5.0)).alias("p"),
        ((F.col("n_new") + 0.5) / (F.col("tn") + 5.0)).alias("q"),
    )
    terms = r.select(
        "tr",
        "tn",
        F.round((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 9)
        .alias("v"),
    )
    return terms.agg(
        F.round(
            F.sum(F.col("v").cast("decimal(38,9)")).cast("double"), 6
        ).alias("psi"),
        F.first("tr").cast("bigint").alias("n_ref"),
        F.first("tn").cast("bigint").alias("n_new"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# session path analysis (top event-type journeys)
# ---------------------------------------------------------------------------


@query(
    "sessionize_paths",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
               FROM events),
    d AS (SELECT user_id, event_type, t, event_id,
                 CASE WHEN lag(t) OVER w IS NULL
                        OR t - lag(t) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
    s AS (SELECT user_id, event_type, t, event_id,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM d),
    r AS (SELECT user_id, sid, event_type,
                 row_number() OVER (PARTITION BY user_id, sid
                                    ORDER BY t, event_id) AS step
          FROM s),
    paths AS (SELECT user_id, sid,
                     string_agg(event_type, '>' ORDER BY step) AS path
              FROM r WHERE step <= 3 GROUP BY user_id, sid),
    pc AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY path),
    rk AS (SELECT path, n_sessions,
                  row_number() OVER (ORDER BY n_sessions DESC, path) AS rk
           FROM pc)
    SELECT CAST(rk AS BIGINT) AS rk, path,
           CAST(n_sessions AS BIGINT) AS n_sessions
    FROM rk WHERE rk <= 15
    """,
)
def sessionize_paths(spark: SparkSession, sf_dir: str) -> SDF:
    """Session path analysis: the most common opening journeys (first 3
    event types, '>'-joined) across 30-minute sessions — the
    product-analytics query behind every "how do users actually start"
    funnel redesign, composing the sessionize gaps-and-islands machinery
    with ordered path extraction.

    Scale: sessionization, step numbering and the per-session path
    collect all ride ONE user-keyed shuffle (same-partitioned windows +
    rollup, the sessionize_batch argument); the path-frequency rollup
    shuffles (path, count) pairs bounded by |event_types|³ distinct
    journeys, and the top-15 is the WindowGroupLimit top-k.  Step
    ordering is exact int64 µs + event_id, so paths are
    engine-identical strings."""
    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("t"), "event_id"
    )
    wl = W.partitionBy("user_id").orderBy("t", "event_id")
    brk = F.when(
        F.lag("t").over(wl).isNull()
        | ((F.col("t") - F.lag("t").over(wl)) > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    s = ev.select(
        "user_id",
        "event_type",
        "t",
        "event_id",
        F.sum(brk)
        .over(wl.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("sid"),
    )
    ws = W.partitionBy("user_id", "sid").orderBy("t", "event_id")
    r = s.select(
        "user_id", "sid", "event_type", F.row_number().over(ws).alias("step")
    ).where(F.col("step") <= 3)
    paths = r.groupBy("user_id", "sid").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    pc = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    # global window [window-group-limit]: rk <= 15 over per-path session counts
    # (inventoried in tests/test_window_audit.py)
    wr = W.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        pc.select(
            F.row_number().over(wr).cast("long").alias("rk"),
            "path",
            F.col("n_sessions").cast("long"),
        )
        .where(F.col("rk") <= 15)
    )


# ---------------------------------------------------------------------------
# Gini concentration (Lorenz prefix sums, two-phase)
# ---------------------------------------------------------------------------


@query(
    "stats_gini_revenue",
    """
    WITH c AS (SELECT o_custkey,
                      sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
               FROM orders GROUP BY o_custkey),
    r AS (SELECT rev,
                 row_number() OVER (ORDER BY rev, o_custkey) AS i,
                 count(*) OVER () AS n
          FROM c),
    g AS (SELECT CAST(sum((2 * i - n - 1) * rev) AS DOUBLE)
                   / (n * CAST(sum(rev) AS DOUBLE)) AS gini,
                 CAST(max(n) AS BIGINT) AS n_customers
          FROM r GROUP BY n)
    SELECT round(gini, 6) AS gini, n_customers FROM g
    """,
)
def stats_gini_revenue(spark: SparkSession, sf_dir: str) -> SDF:
    """Gini coefficient of per-customer revenue — the concentration
    metric behind "is our data (or revenue) dominated by a few heads"
    (for corpora: source/domain concentration before mixture design).
    Computed by the rank formula G = Σ(2i−n−1)·x_i / (n·Σx) over
    revenue-sorted customers.

    Scale: per-customer revenue is one map-side-combined rollup; the
    rank i comes from a SINGLE global window over CUSTOMER-count rows —
    and because customer count still grows with the corpus, the exact
    two-phase range-partitioned rank SELF-ARMS above the
    functions/ranks.py ``auto_two_phase`` threshold (round 10; was
    documented as "the drop-in"), with n from an aggregate+broadcast
    instead of the single-partition COUNT window.  At this operator's
    fixture the aggregate is 4 orders below the fact table, so the
    native window holds locally.  DECIMAL revenue + integer ranks make the weighted sum
    exact; ONE final division is rounded (quotient tie risk accepted:
    the numerator/denominator are data-scale integers×decimals where a
    1e-6 half-tie cannot arise from .00-quantized prices)."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
    )
    from ..functions.ranks import auto_two_phase, two_phase_rank

    # gate on the SOURCE scan (footer-backed; customers <= order rows, a
    # conservative upper bound that can only arm EARLY — harmless, the
    # paths are row-identical): aggregate plan stats are unreliable
    # without CBO
    if auto_two_phase(orders, n_groups=1):
        # customer-count frame outgrew one task's sort: exact global
        # rank from the range-partitioned two-phase shape (round 10 —
        # previously documented as "the drop-in", now self-arming), and
        # n from an aggregate + broadcast instead of the single-
        # partition COUNT window
        ranked = two_phase_rank(
            c.withColumn("_g", F.lit(1)), ["_g"], "rev", "o_custkey", "i"
        )
        n_t = c.agg(F.count(F.lit(1)).alias("n"))
        r = ranked.crossJoin(F.broadcast(n_t)).select("rev", "i", "n")
    else:
        # global window [two-phase-auto]: native branch only below the
        # auto_two_phase gate
        # (inventoried in tests/test_window_audit.py)
        wr = W.orderBy("rev", "o_custkey")
        r = c.select(
            "rev",
            F.row_number().over(wr).alias("i"),
            # global window [two-phase-auto]: native branch only below the
            # auto_two_phase gate
            # (inventoried in tests/test_window_audit.py)
            F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
        )
    g = r.groupBy("n").agg(
        (
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("rev")).cast(
                "double"
            )
            / (F.col("n") * F.sum("rev").cast("double"))
        ).alias("gini"),
        F.max("n").cast("bigint").alias("n_customers"),
    )
    return g.select(F.round("gini", 6).alias("gini"), "n_customers")


# ---------------------------------------------------------------------------
# referential-integrity audit (cross-table orphan counts)
# ---------------------------------------------------------------------------


@query(
    "dq_referential_integrity",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS relation,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM customer) AS BIGINT)
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> SDF:
    """Referential-integrity audit across the fact→dim chain: orphan
    counts for lineitem→orders, orders→customer, customer→nation — the
    cross-TABLE data-quality gate that dq_constraints' single-table
    suite can't see (a lake ingest that drops one dim partition
    produces exactly this signature: valid rows, broken joins).

    Scale: each orphan count is a LEFT ANTI join on the key — the dim
    side broadcasts when small (nation, customer) and shuffles on the
    key otherwise, identical cost to the production join it is
    guarding; counts fold map-side.  Three relations emit as a union of
    1-row aggregates, so the report stays fixed-size regardless of
    fact volume."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def audit(fact: SDF, key: str, dim: SDF, dim_key: str, name: str) -> SDF:
        orphans = fact.join(
            dim.select(F.col(dim_key).alias(key)), key, "left_anti"
        )
        return (
            orphans.agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
            .crossJoin(
                F.broadcast(
                    fact.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
                )
            )
            .select(
                F.lit(name).alias("relation"), "n_orphans", "n_rows"
            )
        )

    return (
        audit(li, "l_orderkey", orders, "o_orderkey",
              "lineitem.l_orderkey -> orders")
        .unionAll(
            audit(orders, "o_custkey", cust, "c_custkey",
                  "orders.o_custkey -> customer")
        )
        .unionAll(
            audit(cust, "c_nationkey", nation, "n_nationkey",
                  "customer.c_nationkey -> nation")
        )
    )


# ---------------------------------------------------------------------------
# YoY delta over the monthly revenue series (lag window, no division)
# ---------------------------------------------------------------------------


@query(
    "window_yoy_delta",
    """
    WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                           AS DOUBLE) AS rev
               FROM orders GROUP BY 1),
    y AS (SELECT ym, rev,
                 lag(rev, 12) OVER (ORDER BY ym) AS rev_prev
          FROM m)
    SELECT ym, rev, rev_prev, round(rev - rev_prev, 6) AS delta
    FROM y WHERE rev_prev IS NOT NULL
    """,
)
def window_yoy_delta(spark: SparkSession, sf_dir: str) -> SDF:
    """Year-over-year revenue movement per month: lag(12) over the
    monthly series with the absolute delta — the BI trend readout in
    its scale-honest form.  The delta is an exact difference of
    DECIMAL-folded sums (no ratio: a rounded quotient is the
    cross-engine round-half landmine documented at
    text_bigram_surprisal; callers divide if they want percent).

    Scale: aggregate-then-analyze — the O(rows) work is one
    map-side-combined monthly rollup; the lag window orders the
    MONTH-count series (bounded by the calendar), so the single
    unpartitioned window never touches fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("rev")
    )
    # global window [aggregate-sized]: lag-12 over the MONTHLY revenue rollup
    # (inventoried in tests/test_window_audit.py)
    w = W.orderBy("ym")
    y = m.select("ym", "rev", F.lag("rev", 12).over(w).alias("rev_prev"))
    return y.where(F.col("rev_prev").isNotNull()).select(
        "ym", "rev", "rev_prev",
        F.round(F.col("rev") - F.col("rev_prev"), 6).alias("delta"),
    )


# ---------------------------------------------------------------------------
# HLL accuracy audit (approx distinct vs exact, per group)
# ---------------------------------------------------------------------------


@query(
    "agg_hll_audit",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_hll_audit(spark: SparkSession, sf_dir: str) -> SDF:
    """HLL accuracy audit completing the sketch-audit trilogy (CMS
    overcount: agg_countmin_heavyhit; minhash vs exact Jaccard:
    dedup_minhash_audit): per-group approx_count_distinct against the
    exact distinct, with the relative error ASSERTED in-engine — the
    query fails loudly if the sketch drifts past 3× its configured rsd
    (0.02), instead of silently reporting a wrong cardinality.  Only
    the exact side is hash-compared (the sketch value is
    implementation-defined and may legitimately change across Spark
    versions); the assertion IS the audit.

    Scale: TWO-PHASE — distinct (group, custkey) pairs first, then
    count + sketch over the pairs (the agg_approx_distinct trick:
    HyperLogLog is duplicate-insensitive, so the sketch over the
    distinct pairs IS the sketch over the raw rows).  Spark's native
    mixed distinct/non-distinct aggregate triples the input via Expand
    before the shuffle (measured 1.6 s vs 0.55 s at sf0.1, round 15);
    the pre-distinct shrinks the shuffle to the pair count AND keeps
    both sides one plan."""
    orders = load_table(spark, sf_dir, "orders")
    both = (
        orders.select("o_orderpriority", "o_custkey")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("exact"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        )
    )
    # In-engine guard: a sketch >3x outside its rsd is a broken build.
    # The assertion rides the FILTER (assert_true yields NULL on
    # success, so isNull() is the always-true predicate) — projected
    # into a dropped column it would be pruned away by Catalyst and
    # never evaluated.
    rel_err = F.abs(F.col("approx") - F.col("exact")) / F.col("exact")
    return both.where(
        F.assert_true(
            rel_err < 0.06, F.lit("HLL drifted past 3x rsd")
        ).isNull()
    ).select("o_orderpriority", "exact")


# ---------------------------------------------------------------------------
# kNN-graph construction (IVF-celled, the clustering precursor)
# ---------------------------------------------------------------------------


@query(
    "emb_knn_graph",
    f"""
    WITH e0 AS (SELECT vec_id AS vid,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    e AS (SELECT * FROM e0 WHERE list_inner_product(v, v) > 0),
    cent0 AS (
      SELECT CAST(label AS BIGINT) AS cell, list(c ORDER BY pos) AS cvec
      FROM (
        SELECT label, pos,
               round(CAST(sum(CAST(CAST(ev AS DOUBLE) AS DECIMAL(38,12)))
                     AS DOUBLE) / count(*), 6) AS c
        FROM (SELECT label, unnest(embedding) AS ev,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings)
        GROUP BY label, pos) GROUP BY label),
    cent AS (SELECT * FROM cent0 WHERE list_inner_product(cvec, cvec) > 0),
    cs AS (SELECT e.vid, e.v, c.cell, {_COS.format(l='e.v', r='c.cvec')}
             AS csim
           FROM e CROSS JOIN cent c),
    a AS (SELECT vid, v, cell FROM (
            SELECT vid, v, cell,
                   row_number() OVER (PARTITION BY vid
                                      ORDER BY csim DESC, cell) AS crk
            FROM cs) WHERE crk = 1),
    p AS (SELECT x.vid AS src, y.vid AS dst,
                 round({_COS.format(l='x.v', r='y.v')}, 4) AS sim
          FROM a x JOIN a y ON x.cell = y.cell AND x.vid <> y.vid),
    r AS (SELECT src, dst, sim,
                 row_number() OVER (PARTITION BY src
                                    ORDER BY sim DESC, dst) AS rk
          FROM p)
    SELECT src, dst, sim, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 3
    """,
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> SDF:
    """kNN-graph construction (k=3 neighbors per vector, IVF-celled):
    EVERY vector gets its top-k in-cell neighbors — the precursor
    artifact for graph clustering (connected components over the kNN
    edges ≈ SemDeDup groups), label propagation, and
    mutual-neighbor outlier pruning.  Distinct from sim_search_*: those
    answer per-QUERY probes; this materializes the all-corpus graph.

    Scale: the pair generation is the SemDeDup bound — Σ|cell|² inside
    label cells, never corpus² — with each cell's vectors meeting in
    one Arrow cogrouped batch whose pair matrix folds in C (see the
    in-function exactness note), and the per-vector top-k is a
    partitioned WindowGroupLimit (no global sort).  Centroids are the
    DECIMAL-folded label means broadcast from emb_centroid, so cell
    assignment and the emitted edges mirror exactly in DuckDB."""
    from ..functions import similarity as S
    from .tier3 import emb_centroid

    emb = D.spread(load_table(spark, sf_dir, "embeddings"))
    cent = (
        emb_centroid(spark, sf_dir)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").cast("long").alias("cell"),
            F.transform("pc", lambda p: p["c"]).alias("cvec"),
        )
    )
    x = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vvec"),
    )
    a = S.ivf_assign(x, cent)

    # Per-cell pair scoring vectorized through Arrow (round 15): the
    # JVM cell self-join evaluated the zip_with+aggregate dot lambda
    # interpretively per pair — Σ|cell|² ≈ 400k pairs × 64 dims ≈ 26M
    # boxed lambda steps, ~5 s at sf0.1 (HOFs are CodegenFallback).
    # Each cell's vectors now meet in ONE applyInPandas group and the
    # pair matrix folds dimension-by-dimension in C (guide §4.2).
    # EXACTNESS: the k-loop accumulates S += v[:,k]·v[:,k]ᵀ in
    # ascending-dimension order with left association — bit-identical
    # to the sequential aggregate fold (and DuckDB's
    # list_inner_product); norms replay the same fold + sqrt; the
    # divide dot/(nrm·nrm) uses the same operand order.  Rounding and
    # the per-src top-3 WindowGroupLimit stay JVM-side, so the emitted
    # sim values hit the same HALF_UP decimal rounding as before.
    # Scale: the group is a CELL (the SemDeDup Σ|cell|² bound — the
    # design constraint this operator always had); the row-block loop
    # bounds per-task memory at 256×|cell| doubles.
    import numpy as np
    import pandas as pd

    def cell_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=["src", "dst", "sim"]).astype(
                {"src": "int64", "dst": "int64", "sim": "float64"}
            )
        vid = pdf["vid"].to_numpy()
        A = np.stack(pdf["vvec"].to_numpy())  # (n, d)
        d = A.shape[1]
        # sequential left-fold norm: same order as aggregate(zip_with)
        acc = np.zeros(n)
        for k in range(d):
            acc = acc + A[:, k] * A[:, k]
        nrm = np.sqrt(acc)
        out_src, out_dst, out_sim = [], [], []
        for lo in range(0, n, 256):
            hi = min(lo + 256, n)
            S_blk = np.zeros((hi - lo, n))
            for k in range(d):
                S_blk = S_blk + np.outer(A[lo:hi, k], A[:, k])
            sim = S_blk / np.outer(nrm[lo:hi], nrm)
            src_idx, dst_idx = np.nonzero(
                vid[lo:hi, None] != vid[None, :]
            )
            out_src.append(vid[lo + src_idx])
            out_dst.append(vid[dst_idx])
            out_sim.append(sim[src_idx, dst_idx])
        return pd.DataFrame(
            {
                "src": np.concatenate(out_src),
                "dst": np.concatenate(out_dst),
                "sim": np.concatenate(out_sim),
            }
        )

    width = spark.sparkContext.defaultParallelism
    p = (
        a.select("vid", "cell", "vvec")
        .repartition(width, "cell")
        .groupBy("cell")
        .applyInPandas(cell_pairs, schema="src long, dst long, sim double")
        .select("src", "dst", F.round("sim", 4).alias("sim"))
    )
    wr = W.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return (
        p.select("src", "dst", "sim",
                 F.row_number().over(wr).cast("long").alias("rk"))
        .where(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# overlapping-interval merge (coverage dedup)
# ---------------------------------------------------------------------------


@query(
    "window_interval_merge",
    """
    WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                       epoch_us(ts) + 600000000 AS e, event_id
                FROM events),
    m AS (SELECT user_id, s, e, event_id,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prev_max_e
          FROM iv),
    b AS (SELECT user_id, s, e,
                 CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END AS brk
          FROM m),
    g AS (SELECT user_id, s, e,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM b),
    spans AS (SELECT user_id, grp, min(s) AS span_s, max(e) AS span_e
              FROM g GROUP BY user_id, grp)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(span_e - span_s) AS BIGINT) AS covered_us
    FROM spans GROUP BY user_id
    """,
)
def window_interval_merge(spark: SparkSession, sf_dir: str) -> SDF:
    """Overlapping-interval merge (union of per-user 10-minute activity
    windows): coalesce overlapping intervals into maximal spans and
    report per-user span count + total covered time — the coverage
    dedup behind watch-time metering, ad-exposure dedup, and on-call
    overlap accounting (naively summing interval lengths double-counts
    every overlap).

    Scale: the classic sweep needs sorted intervals; here the running
    ``max(end) over rows to 1 preceding`` detects gaps, the break
    cumsum labels spans, and the span rollup — all on ONE user-keyed
    shuffle (same-partitioned windows, the sessionize_batch argument).
    Exact int64 µs with event_id tie-breaks; a new span starts only on
    a STRICT gap (s > prev_max_e), so touching intervals merge
    identically on both engines."""
    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + 600_000_000).alias("e"),
        "event_id",
    )
    wm = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    m = iv.select(
        "user_id", "s", "e", F.max("e").over(wm).alias("prev_max_e")
    )
    brk = F.when(
        F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
        F.lit(1),
    ).otherwise(F.lit(0))
    wg = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    g = m.select("user_id", "s", "e", F.sum(brk).over(wg).alias("grp"))
    spans = g.groupBy("user_id", "grp").agg(
        F.min("s").alias("span_s"), F.max("e").alias("span_e")
    )
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("span_e") - F.col("span_s")).cast("long").alias(
            "covered_us"
        ),
    )


# ---------------------------------------------------------------------------
# autocorrelation of the daily series (seasonality detection)
# ---------------------------------------------------------------------------


@query(
    "stats_autocorr_lag",
    """
    WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                          CAST(count(*) AS DOUBLE) AS x
                   FROM events GROUP BY day),
    lagged AS (SELECT l.lag,
                      count(*) AS n,
                      sum(CAST(a.x AS DECIMAL(38,6))) AS sx,
                      sum(CAST(b.x AS DECIMAL(38,6))) AS sy,
                      sum(CAST(a.x * b.x AS DECIMAL(38,6))) AS sxy,
                      sum(CAST(a.x * a.x AS DECIMAL(38,6))) AS sxx,
                      sum(CAST(b.x * b.x AS DECIMAL(38,6))) AS syy
               FROM (SELECT unnest([1, 7]) AS lag) l
               JOIN daily a ON true
               JOIN daily b ON b.day = a.day + to_days(CAST(l.lag AS INT))
               GROUP BY l.lag),
    r AS (SELECT lag, n,
                 (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sy AS DOUBLE))
                 / nullif(sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                                 * CAST(sx AS DOUBLE))
                          * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                                   * CAST(sy AS DOUBLE)), 0) AS acf
          FROM lagged)
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           round(acf, 6) AS acf
    FROM r
    """,
)
def stats_autocorr_lag(spark: SparkSession, sf_dir: str) -> SDF:
    """Autocorrelation of the daily event-count series at lags 1 and 7 —
    the seasonality probe (high lag-7 ACF = weekly pattern) that
    completes the series-monitoring family next to
    stats_trend_mann_kendall (monotone drift) and stats_psi_drift
    (distribution drift).  Pearson r over (x_t, x_{t+lag}) pairs from
    exact DECIMAL-folded moment sums (the stats_ab_welch discipline).

    Scale: aggregate-then-analyze — one daily rollup is the O(rows)
    work; the lag self-join matches day-count rows on an exact date
    key (calendar-bounded), and both lags ride ONE pass via the tiny
    lag-literal cross join.  nullif guards a constant series (ACF
    undefined → NULL, not a divide-by-zero abort)."""
    ev = load_table(spark, sf_dir, "events")
    # lineage cut (round 9): daily feeds BOTH lag-join legs — without it
    # Catalyst re-scans the corpus per leg
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    ).localCheckpoint()
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(7))).alias("lag")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    joined = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            b,
            F.col("b.day")
            == F.date_add(F.col("a.day"), F.col("lag").cast("int")),
        )
    )
    dec = lambda c: F.sum(c.cast("decimal(38,6)"))  # noqa: E731
    lagged = joined.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.col("a.x")).alias("sx"),
        dec(F.col("b.x")).alias("sy"),
        dec(F.col("a.x") * F.col("b.x")).alias("sxy"),
        dec(F.col("a.x") * F.col("a.x")).alias("sxx"),
        dec(F.col("b.x") * F.col("b.x")).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.sqrt(
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        n * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return lagged.select(
        F.col("lag").cast("long").alias("lag"),
        n.cast("long").alias("n_pairs"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# binary chunk-level exact dedup (multimodal payloads)
# ---------------------------------------------------------------------------


@query(
    "multimodal_chunk_dedup",
    """
    WITH img AS (SELECT doc_id, text,
                        octet_length(encode(text)) AS n_bytes
                 FROM documents),
    ch AS (SELECT doc_id, i AS chunk_idx,
                  substring(text, CAST((i * 64) + 1 AS INT), 64) AS chunk
           FROM img,
                UNNEST(range(0, CAST(ceil(n_bytes / 64.0)
                                     AS BIGINT))) AS t(i)),
    u AS (SELECT chunk, count(*) AS n_copies, min(doc_id) AS keep_doc
          FROM ch GROUP BY chunk)
    SELECT CAST(count(*) AS BIGINT) AS n_unique_chunks,
           CAST(sum(n_copies) AS BIGINT) AS n_total_chunks,
           CAST(sum(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           CAST(count(DISTINCT keep_doc) AS BIGINT) AS n_keeper_docs
    FROM u
    """,
)
def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> SDF:
    """Chunk-level exact dedup over BINARY payloads: split each media
    blob into 64-byte chunks, dedup chunks corpus-wide, report the
    dedup yield — content-defined-storage for the multimodal lake
    (identical image tiles / audio frames across assets stored once),
    extending the dedup family beyond text into the binary column the
    multimodal_* ops carry.

    Scale: chunking is a map-only substring explode over the binary
    column (no decode needed — this is byte-level, codec-agnostic);
    the chunk rollup shuffles (chunk, count) where a production run
    shuffles xxhash64(chunk) fingerprints (here the raw 64-byte chunk
    IS the key; the fingerprint swap is the dedup_exact discipline).
    The DuckDB oracle chunks the VARCHAR (DuckDB cannot slice blobs);
    the payload is ASCII so char chunks are byte chunks 1:1 — stated
    assumption, verified by the octet_length == length equality the
    fake-image fixture guarantees.  The summary is a 4-number rollup
    regardless of corpus size."""
    from ..functions import multimodal as MM

    docs = D.spread(load_table(spark, sf_dir, "documents"))
    img = MM.attach_fake_image(docs).select("doc_id", "img_bytes")
    nchunks = F.ceil(F.octet_length("img_bytes") / 64.0).cast("long")
    # sequence(0, -1) would yield [0, -1] (Spark infers a DESCENDING
    # step when start > stop) while DuckDB's range(0, 0) is empty — an
    # empty payload must produce zero chunks on both engines
    chunks = F.when(
        nchunks > 0,
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.substring(F.col("img_bytes"), i * 64 + 1, F.lit(64)),
        ),
    ).otherwise(F.array().cast("array<binary>"))
    ch = img.select("doc_id", F.explode(chunks).alias("chunk"))
    u = ch.groupBy("chunk").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_doc"),
    )
    return u.agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
        F.sum("n_copies").cast("long").alias("n_total_chunks"),
        F.sum(
            F.when(F.col("n_copies") > 1, F.col("n_copies") - 1).otherwise(0)
        )
        .cast("long")
        .alias("n_dup_chunks"),
        F.countDistinct("keep_doc").cast("long").alias("n_keeper_docs"),
    )


# ---------------------------------------------------------------------------
# round-6 composition block: end-to-end multimodal corpus funnel and
# incremental (batch-vs-persisted-corpus) minhash dedup
# ---------------------------------------------------------------------------


@query(
    "pipeline_multimodal_corpus",
    """
    WITH b AS (SELECT doc_id, text,
                      octet_length(encode(text)) AS n_bytes
               FROM documents),
    ch AS (SELECT doc_id,
                  substring(text, CAST((i * 64) + 1 AS INT), 64) AS chunk
           FROM b,
                UNNEST(range(0, CAST(ceil(n_bytes / 64.0)
                                     AS BIGINT))) AS t(i)),
    own AS (SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY chunk) < doc_id AS dup
            FROM ch),
    per AS (SELECT doc_id,
                   CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*) AS dup_frac
            FROM own GROUP BY doc_id),
    fl AS (SELECT b.doc_id, n_bytes,
                  dup_frac <= 0.5 AS k1,
                  dup_frac <= 0.5 AND n_bytes % 640 >= 100
                    AND (n_bytes * 31) % 480 >= 100 AS k2,
                  CAST(ceil(n_bytes / 128.0) AS BIGINT) AS frames
           FROM b JOIN per USING (doc_id)),
    f2 AS (SELECT *, k2 AND frames <= 3 AS k3 FROM fl),
    stages AS (
      SELECT 's0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_assets,
             CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
             CAST(0 AS BIGINT) AS n_frames FROM f2
      UNION ALL
      SELECT 's1_chunk_dedup',
             CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN k1 THEN n_bytes ELSE 0 END) AS BIGINT),
             CAST(0 AS BIGINT) FROM f2
      UNION ALL
      SELECT 's2_meta_gate',
             CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN k2 THEN n_bytes ELSE 0 END) AS BIGINT),
             CAST(0 AS BIGINT) FROM f2
      UNION ALL
      SELECT 's3_frame_sample',
             CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN k3 THEN n_bytes ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN k3 THEN frames ELSE 0 END) AS BIGINT)
      FROM f2)
    SELECT stage, n_assets, n_bytes, n_frames FROM stages
    UNION ALL
    SELECT 's4_shard_pack',
           CAST(ceil(CAST(n_bytes AS DOUBLE) / 65536) AS BIGINT),
           n_bytes, n_frames
    FROM stages WHERE stage = 's3_frame_sample'
    """,
)
def pipeline_multimodal_corpus(spark: SparkSession, sf_dir: str) -> SDF:
    """End-to-end MULTIMODAL corpus funnel — the binary-column twin of
    pipeline_pretrain_corpus: chunk-level dedup gate → decoded-metadata
    gate → frame sampling → 64 KiB shard packing, reporting surviving
    assets + bytes (+ sampled frames) after every stage.  Stages:

    * s1_chunk_dedup — per-asset duplicate-byte fraction from 64-byte
      chunk ownership (an asset ≥50% made of chunks already stored under
      a lower doc_id is dropped: catches exact dups AND mostly-contained
      assets, the multimodal analogue of text near-dup);
    * s2_meta_gate — minimum-resolution gate (width ≥ 100, height ≥ 100)
      on the decode_meta mapInPandas stub (functions/multimodal.py) —
      decode runs ONLY on s1 survivors (cheap relational gates before
      expensive codec work, the production ordering);
    * s3_frame_sample — stride-128 frame extraction via the REAL
      frame_sample mapInPandas stage on s2 survivors, keeping assets
      within a 3-frame budget;
    * s4_shard_pack — 64 KiB WebDataset-style shard count off the s3
      rollup row.

    Scale: the chunk gate is the only corpus-sized shuffle (chunk-keyed
    window min + doc-keyed rollup — production swaps raw 64-byte chunk
    keys for xxhash64 fingerprints, the multimodal_chunk_dedup
    discipline); decode/frame Arrow stages stream only the survivor
    subset; the funnel rollup is one pass over per-asset flags
    (flag-per-stage, nothing materialized between stages); the pack row
    folds off the 4-row rollup itself.  The DuckDB oracle mirrors the
    stub codec arithmetic (width = n % 640, height = 31n % 480, frames =
    ceil(n/128)) and chunks the ASCII varchar 1:1 with the bytes."""
    from ..functions import multimodal as MM

    docs = D.spread(load_table(spark, sf_dir, "documents"))
    img = MM.attach_fake_image(docs)
    base = img.select(
        "doc_id", "img_bytes",
        F.octet_length("img_bytes").cast("long").alias("n_bytes"),
    ).localCheckpoint(eager=True)

    nchunks = F.ceil(F.col("n_bytes") / 64.0).cast("long")
    # empty payloads: see multimodal_chunk_dedup — sequence(0, -1) is
    # NOT empty in Spark; such assets carry no chunks (and, consistently
    # on both engines, drop from the funnel via the inner dup_frac join)
    chunks = F.when(
        nchunks > 0,
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.substring(F.col("img_bytes"), i * 64 + 1, F.lit(64)),
        ),
    ).otherwise(F.array().cast("array<binary>"))
    # Ownership groups by the 8-byte xxhash64 chunk fingerprint, not the
    # raw 64-byte binary chunk (round 15): the fingerprint is computed
    # map-side inside the explode task, so the ownership shuffle carries
    # (doc_id, 8B) — the multimodal_chunk_dedup / dedup_exact discipline
    # this docstring already names as the production swap.  Grouping by
    # hash equals grouping by value absent a 2^-64 collision (the same
    # contract every fingerprint-keyed dedup id in this repo rides).
    ch = base.select("doc_id", F.explode(chunks).alias("chunk")).select(
        "doc_id", F.xxhash64("chunk").alias("ck")
    )
    own = ch.withColumn(
        "dup",
        F.min("doc_id").over(W.partitionBy("ck")) < F.col("doc_id"),
    )
    per = own.groupBy("doc_id").agg(
        (
            F.sum(F.col("dup").cast("int")).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_frac")
    )
    fl = base.join(per, "doc_id").withColumn(
        "k1", F.col("dup_frac") <= 0.5
    )
    # decode only k1 survivors (metadata stub: width/height from bytes)
    meta = MM.decode_meta(
        fl.where("k1").select("doc_id", "img_bytes")
    ).select(
        "doc_id",
        ((F.col("width") >= 100) & (F.col("height") >= 100)).alias("meta_ok"),
    )
    # Eager checkpoint (round 15): the frame-sample leg and the final
    # flag join both consume fl2 — without a barrier the chunk-ownership
    # window and the decode_meta Arrow stage executed twice.  The
    # checkpoint carries ONLY the per-asset flags (8+8+3 bytes/row);
    # the k2 survivors re-attach img_bytes from the base checkpoint
    # rather than serializing the corpus binary a second time.
    fl2 = (
        fl.join(meta, "doc_id", "left")
        .withColumn(
            "k2", F.col("k1") & F.coalesce(F.col("meta_ok"), F.lit(False))
        )
        .select("doc_id", "n_bytes", "k1", "k2")
        .localCheckpoint(eager=True)
    )
    # frame-sample only k2 survivors (real Arrow explode-shaped stage)
    frames = (
        MM.frame_sample(
            fl2.where("k2").select("doc_id").join(
                base.select("doc_id", "img_bytes"), "doc_id"
            ),
            every=128,
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("frames"))
    )
    f2 = (
        fl2.join(frames, "doc_id", "left")
        .withColumn("frames", F.coalesce(F.col("frames"), F.lit(0)))
        .withColumn("k3", F.col("k2") & (F.col("frames") <= 3))
        .select("doc_id", "n_bytes", "k1", "k2", "k3", "frames")
    )

    def _stage(name, flag, fr):
        return F.struct(
            F.lit(name).alias("stage"),
            flag.cast("long").alias("inc"),
            F.when(flag, F.col("n_bytes")).otherwise(F.lit(0)).alias("nb"),
            fr.alias("fr"),
        )

    zero = F.lit(0).cast("long")
    exploded = f2.select(
        F.explode(
            F.array(
                _stage("s0_raw", F.lit(True), zero),
                _stage("s1_chunk_dedup", F.col("k1"), zero),
                _stage("s2_meta_gate", F.col("k2"), zero),
                _stage(
                    "s3_frame_sample",
                    F.col("k3"),
                    F.when(F.col("k3"), F.col("frames")).otherwise(zero),
                ),
            )
        ).alias("s")
    )
    rollup = (
        exploded.groupBy(F.col("s.stage").alias("stage"))
        .agg(
            F.sum("s.inc").cast("long").alias("n_assets"),
            F.sum("s.nb").cast("long").alias("n_bytes"),
            F.sum("s.fr").cast("long").alias("n_frames"),
        )
        .localCheckpoint(eager=True)
    )
    pack = rollup.where(F.col("stage") == "s3_frame_sample").select(
        F.lit("s4_shard_pack").alias("stage"),
        F.ceil(F.col("n_bytes").cast("double") / 65536)
        .cast("long")
        .alias("n_assets"),
        "n_bytes",
        "n_frames",
    )
    return rollup.unionAll(pack)


# ---------------------------------------------------------------------------
# incremental minhash dedup: new batch probes a PERSISTED corpus
# signature store (O(batch) sketch work per increment, not O(corpus))
# ---------------------------------------------------------------------------


def _incremental_sig_store(spark: SparkSession, sf_dir: str) -> str:
    """Write-once corpus signature store for dedup_incremental_minhash,
    keyed by the source fingerprint (driver regenerates testdata in
    place between rounds — basename keying alone would serve stale
    signatures).  Holds, for the standing corpus (doc_id % 20 != 0):
    ``sh/``    (id, sh)           — distinct xxhash64 3-shingle sets,
    ``bands/`` (id, band, bucket) — 16-band LSH keys over the 32-lane
                                    minhash signature.
    Build cost is ONE corpus pass, paid once per corpus version; every
    later batch probe reads only these two compact tables."""
    import os

    from ..sources.tables import publish_store, store_path

    def write(tmp: str) -> None:
        # signature staged in the same Arrow kernel pass (round 15) —
        # identical lane values to the standalone minhash_signature fold
        sh = D.hashed_shingle_sets(
            load_table(spark, sf_dir, "documents").where(
                F.col("doc_id") % 20 != 0
            ),
            with_signature=32,
        )
        sh.select("id", "sh").write.mode("overwrite").parquet(
            os.path.join(tmp, "sh")
        )
        sigs = sh.select("id", "sig")
        sigs.select(
            "id", F.posexplode(D.band_keys(F.col("sig"), 32, 1)).alias(
                "band", "bucket"
            )
        ).write.mode("overwrite").parquet(os.path.join(tmp, "bands"))

    # the banding params (b32r1) ride in the stem: changing the band
    # shape invalidates the store exactly like a testdata regeneration
    return publish_store(
        store_path(sf_dir, "incsig_b32r1", ("documents",)), write
    )


@query(
    "dedup_incremental_minhash",
    f"""
    WITH t AS ({_SHINGLES3_SQL}),
    corpus AS (SELECT doc_id, sh FROM t WHERE doc_id % 20 <> 0
               AND len(sh) > 0),
    batch AS (SELECT doc_id, sh FROM t WHERE doc_id % 20 = 0
              AND len(sh) > 0),
    p AS (SELECT b.doc_id AS b, c.doc_id AS c,
                 CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
                   / (len(b.sh) + len(c.sh)
                      - len(list_intersect(b.sh, c.sh))) AS j
          FROM batch b JOIN corpus c ON true),
    q AS (SELECT b, c, j,
                 row_number() OVER (PARTITION BY b
                                    ORDER BY j DESC, c ASC) AS rn
          FROM p WHERE j >= 0.5)
    SELECT b, c, round(j, 4) AS jaccard FROM q WHERE rn = 1
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> SDF:
    """INCREMENTAL near-dup dedup: an incoming batch (doc_id % 20 = 0 —
    the 5% "new arrivals" slice) is sketched fresh and LSH-probed
    against a PERSISTED corpus signature store; each batch doc reports
    its best corpus near-duplicate (highest exact Jaccard, corpus-id
    tie-break).  The streaming-adjacent twin of dedup_near_minhash: a
    standing 100 TB corpus is sketched ONCE, and every daily increment
    pays only O(batch) sketch work + a band-bucket equi-join against
    the store — never an all-pairs or corpus re-sketch.  This realizes
    the persisted-index path that dedup_incremental (tier5.py:1605)
    names but simulates by recomputing: there the corpus fingerprints
    are rebuilt per run; here they are a write-once table.

    Scale: the store's band table joins the batch's exploded bands on
    (band, bucket) — both sides shuffle on the 16-byte key, and the
    batch side is increment-sized; shingle sets re-join only for the
    candidate verify.  Rank BEFORE round (j is a ratio of exact set
    cardinalities — bit-identical across engines), unique corpus-id
    tie-break, so best-match selection is deterministic.  Oracle
    contract as dedup_near_minhash (tier3.py:66): the emitted set is
    defined by the exact-Jaccard verify, with LSH as a candidate
    pruner.  Banding is 32 bands x 1 ROW (not near_minhash's 16x2):
    best-match selection converts a recall miss into a WRONG row, not a
    merely missing one, so the threshold-edge miss probability must be
    negligible on ANY regenerated corpus — with 1-row bands a pair at
    j >= 0.5 is missed only if all 32 minhash lanes differ, p =
    (1 - j)^32 <= 2.4e-10 at the 0.5 threshold itself (r6 review;
    16x2 banding left ~1% at the edge).  DuckDB mirrors with blocked
    exact all-pairs batch x corpus."""
    store = _incremental_sig_store(spark, sf_dir)
    corp_bands = read_parquet(spark, f"{store}/bands").withColumnRenamed(
        "id", "c"
    )
    corp_sh = read_parquet(spark, f"{store}/sh").select(
        F.col("id").alias("c"), F.col("sh").alias("csh")
    )

    # batch signature staged in the same Arrow kernel pass (round 15) —
    # identical lane values to the standalone minhash_signature fold
    bsig = D.hashed_shingle_sets(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0),
        with_signature=32,
    )
    bsh = bsig.select(F.col("id").alias("b"), F.col("sh").alias("bsh"))

    bbands = bsig.select(
        F.col("id").alias("b"),
        F.posexplode(
            D.band_keys(F.col("sig"), 32, 1)
        ).alias("band", "bucket"),
    )
    cand = (
        bbands.join(corp_bands, ["band", "bucket"])
        .select("b", "c")
        .distinct()
    )
    verified = (
        cand.join(bsh, "b")
        .join(corp_sh, "c")
        .withColumn("j", D.jaccard(F.col("bsh"), F.col("csh")))
        .where(F.col("j") >= 0.5)
    )
    best = verified.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("b").orderBy(F.desc("j"), F.asc("c"))
        ),
    ).where(F.col("rn") == 1)
    return best.select("b", "c", F.round("j", 4).alias("jaccard"))


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of BM25 and embedding cosine
# ---------------------------------------------------------------------------


@query(
    "rank_fusion_hybrid",
    f"""
    WITH {{bm25}},
    lr0 AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS lr
            FROM agg),
    lr AS (SELECT doc_id, lr FROM lr0 WHERE lr <= 100),
    e0 AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
    e AS (SELECT * FROM e0 WHERE list_inner_product(v, v) > 0),
    q AS (SELECT v FROM e WHERE vec_id = 0),
    vsc AS (SELECT e.vec_id AS vid,
                   round(list_inner_product(q.v, e.v)
                         / (sqrt(list_inner_product(q.v, q.v))
                            * sqrt(list_inner_product(e.v, e.v))), 4) AS sim
            FROM e CROSS JOIN q WHERE e.vec_id != 0),
    vr0 AS (SELECT vid,
                   row_number() OVER (ORDER BY sim DESC, vid) AS vr
            FROM vsc),
    vr AS (SELECT vid, vr FROM vr0 WHERE vr <= 100),
    fused AS (SELECT coalesce(lr.doc_id, vr.vid) AS doc_id,
                     coalesce(1.0 / (60 + lr.lr), 0)
                       + coalesce(1.0 / (60 + vr.vr), 0) AS rrf
              FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.vid),
    r AS (SELECT doc_id, rrf,
                 row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
          FROM fused)
    SELECT CAST(rk AS BIGINT) AS rk, doc_id, round(rrf, 6) AS rrf
    FROM r WHERE rk <= 20
    """.format(bm25=_BM25_AGG_SQL),
)
def rank_fusion_hybrid(spark: SparkSession, sf_dir: str) -> SDF:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    k=60): the BM25 lexical ranking (shared scorer with rank_bm25) and
    the embedding-cosine ranking against query vector vec_id 0 are each
    ranked independently and TRUNCATED to their top-100 (RRF is defined
    over the legs' top-K lists — a doc outside both top-100s cannot
    reach the fused top-20 anyway, since its rrf < 2/161 while 20 docs
    already score ≥ 1/160 + leg bounds), then fused as Σ 1/(60 + rank)
    — the standard lexical+dense hybrid every RAG retrieval stack runs.
    Documents and embeddings index the same corpus 1:1 (doc_id =
    vec_id, the fixture contract); a doc present in only one leg's
    top-100 contributes only that leg's term.

    Scale: each leg is its own already-proven plan (BM25: filtered
    postings, one shuffle; cosine: broadcast query, codegen map)
    TRUNCATED to a top-100 rank filter — so the fusion's full-outer
    join touches ≤ 200 rows regardless of corpus size, and the per-leg
    global rank is a top-K window Spark executes as WindowGroupLimit
    (never a full materialized global sort at the filter).  Determinism:
    ranks are exact ints, each RRF term is one IEEE division, the fused
    score a two-term sum in fixed expression order — rank BEFORE the
    final display round, doc_id tie-break."""
    from ..functions import similarity as S

    lex = _bm25_doc_scores(spark, sf_dir)
    lr = lex.select(
        "doc_id",
        F.row_number()
        # global window [window-group-limit]: three sites: lexical top-100,
        # vector top-100, fused top-20
        # (inventoried in tests/test_window_audit.py)
        .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("lr"),
    ).where(F.col("lr") <= 100)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(S.dot(F.col("v"), F.col("v")))).where(
        F.col("nrm") > 0
    )
    q = corpus.where(F.col("vid") == 0).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    vsc = corpus.where(F.col("vid") != 0).crossJoin(F.broadcast(q)).select(
        "vid",
        F.round(
            S.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 4
        ).alias("sim"),
    )
    vr = vsc.select(
        "vid",
        # global window [window-group-limit]: three sites: lexical top-100,
        # vector top-100, fused top-20
        # (inventoried in tests/test_window_audit.py)
        F.row_number().over(W.orderBy(F.desc("sim"), F.asc("vid"))).alias("vr"),
    ).where(F.col("vr") <= 100)
    fused = (
        lr.join(vr, lr["doc_id"] == vr["vid"], "full_outer")
        .select(
            F.coalesce(lr["doc_id"], vr["vid"]).alias("doc_id"),
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lr")), F.lit(0.0))
                + F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("vr")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    return (
        fused.select(
            F.row_number()
            # global window [window-group-limit]: three sites: lexical top-100,
            # vector top-100, fused top-20
            # (inventoried in tests/test_window_audit.py)
            .over(W.orderBy(F.desc("rrf"), F.asc("doc_id")))
            .cast("long")
            .alias("rk"),
            "doc_id",
            F.round("rrf", 6).alias("rrf"),
        )
        .where(F.col("rk") <= 20)
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on the daily event series
# ---------------------------------------------------------------------------


@query(
    "stats_cusum_changepoint",
    """
    WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                          CAST(count(*) AS BIGINT) AS x
                   FROM events GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx FROM daily),
    c AS (SELECT day, x,
                 row_number() OVER (ORDER BY day) AS t,
                 CAST(sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum
          FROM daily),
    sc AS (SELECT day, t, cum, n, sx,
                  n * cum - t * sx AS c_scaled
           FROM c CROSS JOIN tot),
    best AS (SELECT *, row_number() OVER (ORDER BY abs(c_scaled) DESC,
                                          day ASC) AS rn
             FROM sc)
    SELECT day AS cp_day, CAST(n AS BIGINT) AS n_days,
           CAST(c_scaled AS BIGINT) AS c_scaled,
           round(CAST(abs(c_scaled) AS DOUBLE) / n, 6) AS max_dev,
           CAST(cum AS BIGINT) AS pre_sum, CAST(t AS BIGINT) AS pre_n,
           CAST(sx - cum AS BIGINT) AS post_sum,
           CAST(n - t AS BIGINT) AS post_n
    FROM best WHERE rn = 1
    """,
)
def stats_cusum_changepoint(spark: SparkSession, sf_dir: str) -> SDF:
    """CUSUM mean-shift changepoint on the daily event-count series (Page
    1954): the day t maximizing |Σ_{i≤t} x_i − t·μ| splits the series at
    its strongest level shift — the monitoring primitive that catches a
    regime change the Mann-Kendall monotone-trend test smooths over.
    Completes the series family: trend (Mann-Kendall) / seasonality
    (autocorr) / distribution drift (PSI) / level shift (this).

    Determinism: the CUSUM is computed SCALED-INTEGER — C_t = n·cum_t −
    t·Σx is exact BIGINT (no running double fold, no μ quotient), so
    the argmax is integer arithmetic on both engines; only the display
    deviation divides (rounded, never compared).  Pre/post segment sums
    ship as exact integers so the caller derives the shift magnitude
    without a quotient (the round-half lesson, SCALE_CHECK.md).

    Scale: aggregate-then-analyze — one O(rows) daily rollup; the
    running sum and argmax act on the DAYS-sized frame (the unpartitioned
    window is calendar-bounded, documented safe)."""
    ev = load_table(spark, sf_dir, "events")
    # lineage cut (round 9): daily feeds the totals broadcast AND the
    # cumulative leg — without it Catalyst re-scans the corpus per leg
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    ).localCheckpoint()
    tot = F.broadcast(
        daily.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
        )
    )
    # global window [aggregate-sized]: two sites: cumsum and argmax over the
    # DAILY rollup (localCheckpointed, days-cardinality)
    # (inventoried in tests/test_window_audit.py)
    wo = W.orderBy("day")
    c = daily.select(
        "day",
        "x",
        F.row_number().over(wo).cast("long").alias("t"),
        F.sum("x").over(wo.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
    )
    sc = c.crossJoin(tot).withColumn(
        "c_scaled", F.col("n") * F.col("cum") - F.col("t") * F.col("sx")
    )
    best = sc.withColumn(
        "rn",
        F.row_number().over(
            # global window [aggregate-sized]: two sites: cumsum and argmax
            # over the DAILY rollup (localCheckpointed, days-cardinality)
            # (inventoried in tests/test_window_audit.py)
            W.orderBy(F.abs(F.col("c_scaled")).desc(), F.asc("day"))
        ),
    ).where(F.col("rn") == 1)
    return best.select(
        F.col("day").alias("cp_day"),
        F.col("n").alias("n_days"),
        F.col("c_scaled").cast("long").alias("c_scaled"),
        F.round(
            F.abs(F.col("c_scaled")).cast("double") / F.col("n"), 6
        ).alias("max_dev"),
        F.col("cum").alias("pre_sum"),
        F.col("t").alias("pre_n"),
        (F.col("sx") - F.col("cum")).cast("long").alias("post_sum"),
        (F.col("n") - F.col("t")).cast("long").alias("post_n"),
    )


# ---------------------------------------------------------------------------
# group-aware k-fold assignment (no customer spans folds)
# ---------------------------------------------------------------------------


@query(
    "data_kfold_assign",
    """
    WITH o AS (SELECT o_custkey,
                      (o_custkey * 1103515245 + 12345) % 2147483647 % 5
                        AS fold,
                      CAST(o_totalprice AS DECIMAL(38,6)) AS price
               FROM orders),
    leak AS (SELECT CAST(count(*) AS BIGINT) AS n_leaky FROM (
               SELECT o_custkey FROM o GROUP BY o_custkey
               HAVING count(DISTINCT fold) > 1))
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(price) AS DOUBLE) AS revenue,
           (SELECT n_leaky FROM leak) AS n_leaky_groups
    FROM o GROUP BY fold
    """,
)
def data_kfold_assign(spark: SparkSession, sf_dir: str) -> SDF:
    """GROUP-AWARE k-fold assignment (k=5) for train/eval splits: every
    order lands in the fold of its CUSTOMER (portable LCG hash of
    o_custkey), so no customer's behavior leaks across folds — the
    split discipline any model trained on per-entity data needs.  The
    per-fold report carries customer/order counts, exact DECIMAL
    revenue, and an in-output leakage audit (customers spanning >1
    fold — structurally zero, VERIFIED in the result rather than
    assumed, the agg_hll_audit pattern).

    Scale: fold assignment is a map-side expression on the fact scan
    (no customer-dim join — the group key rides the fact row); the
    rollup is one shuffle to 5 groups with map-side partials; the
    leakage audit re-aggregates the same scan by custkey (its
    distinct-fold count is 1 per group by construction, so AQE sees a
    near-empty HAVING).  The LCG stays in BIGINT range (custkey ×
    1.1e9 ≪ 2^63) so ANSI mode cannot overflow-abort."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        ((F.col("o_custkey") * 1103515245 + 12345) % 2147483647 % 5).alias(
            "fold"
        ),
        F.col("o_totalprice").cast("decimal(38,6)").alias("price"),
    )
    leak = F.broadcast(
        o.groupBy("o_custkey")
        .agg(F.count_distinct("fold").alias("nf"))
        .where(F.col("nf") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaky_groups"))
    )
    return (
        o.groupBy("fold")
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_customers"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("price").cast("double").alias("revenue"),
        )
        .select(F.col("fold").cast("long").alias("fold"), "n_customers",
                "n_orders", "revenue")
        .crossJoin(leak)
    )


# ---------------------------------------------------------------------------
# embedding curation funnel (SemDeDup-style): valid → central → diverse
# → class-balanced
# ---------------------------------------------------------------------------


@query(
    "pipeline_embedding_curation",
    """
    WITH e0 AS (SELECT vec_id, label,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    base AS (SELECT vec_id, label, v,
                    list_inner_product(v, v) > 0 AS k1
             FROM e0),
    ex AS (SELECT vec_id, label, unnest(v) AS x,
                  unnest(range(1, len(v) + 1)) AS pos
           FROM base WHERE k1),
    cent AS (SELECT label, pos,
                    round(CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
                          / count(*), 6) AS m
             FROM ex GROUP BY label, pos),
    dist AS (SELECT ex.vec_id,
                    round(sqrt(CAST(sum(CAST((x - m) * (x - m)
                          AS DECIMAL(38,12))) AS DOUBLE)), 6) AS dist
             FROM ex JOIN cent c ON ex.label = c.label AND ex.pos = c.pos
             GROUP BY ex.vec_id),
    f1 AS (SELECT b.vec_id, b.label, b.v, b.k1,
                  b.k1 AND coalesce(d.dist <= 1.01, false) AS k2
           FROM base b LEFT JOIN dist d USING (vec_id)),
    seeds AS (SELECT vec_id AS cid, v AS c FROM base
              WHERE k1 AND len(v) = 64 AND vec_id < 16),
    asg AS (SELECT vec_id, cid FROM (
              SELECT f.vec_id, s.cid,
                     row_number() OVER (PARTITION BY f.vec_id ORDER BY
                       list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list_transform(range(1, 65),
                           i -> (f.v[i] - s.c[i]) * (f.v[i] - s.c[i]))),
                         (acc, t) -> acc + t), cid) AS rk
              FROM (SELECT vec_id, v FROM f1 WHERE k2 AND len(v) = 64) f
              CROSS JOIN seeds s) WHERE rk = 1),
    sv AS (SELECT f1.vec_id, f1.label, f1.v, asg.cid
           FROM f1 JOIN asg USING (vec_id)),
    simdrop AS (SELECT DISTINCT b.vec_id
                FROM sv a JOIN sv b
                  ON a.label = b.label AND a.cid = b.cid
                 AND a.vec_id < b.vec_id
                WHERE round(list_inner_product(a.v, b.v)
                        / (sqrt(list_inner_product(a.v, a.v))
                           * sqrt(list_inner_product(b.v, b.v))), 4) >= 0.3),
    f2 AS (SELECT vec_id, label, k1, k2,
                  k2 AND vec_id NOT IN (SELECT vec_id FROM simdrop) AS k3
           FROM f1),
    cap AS (SELECT CAST(min(n) AS BIGINT) AS cap FROM (
              SELECT count(*) AS n FROM f2 WHERE k3 GROUP BY label)),
    f3 AS (SELECT vec_id, label, k1, k2, k3,
                  k3 AND row_number() OVER (PARTITION BY label, k3
                                            ORDER BY vec_id)
                      <= (SELECT cap FROM cap) AS k4
           FROM f2),
    stages AS (
      SELECT 's0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(count(DISTINCT label) AS BIGINT) AS n_labels FROM f3
      UNION ALL
      SELECT 's1_valid', CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN k1 THEN label END) AS BIGINT)
      FROM f3
      UNION ALL
      SELECT 's2_central', CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN k2 THEN label END) AS BIGINT)
      FROM f3
      UNION ALL
      SELECT 's3_diverse', CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN k3 THEN label END) AS BIGINT)
      FROM f3
      UNION ALL
      SELECT 's4_balanced', CAST(sum(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN k4 THEN label END) AS BIGINT)
      FROM f3)
    SELECT stage, n_vecs, n_labels FROM stages
    """,
)
def pipeline_embedding_curation(spark: SparkSession, sf_dir: str) -> SDF:
    """Embedding-set curation funnel (the SemDeDup/prototypicality
    recipe): validity gate (nonzero norm) → centrality gate (L2 distance
    to the label centroid ≤ 1.01, dropping outliers/mislabels) →
    diversity gate (drop any vector with round-4 cosine ≥ 0.3 to a
    LOWER-ID central vector of the same label AND cluster cell — the
    pairwise, non-chained SemDeDup variant: the suppressor need not
    itself survive, which keeps the rule join-expressible; τ is tuned to
    this corpus's similarity range) → class-balance cap (each label
    trimmed to the smallest surviving label's count, in vec_id order).
    Flag-per-stage rollup: vectors + distinct labels surviving each
    stage.

    Scale: centroids are per-(label,pos) DECIMAL folds collected to a
    LABELS-sized broadcast (emb_outlier_centroid shape); the diversity
    join is blocked on (label, cluster cell) — cells come from a
    broadcast-seed nearest-centroid assignment (the dedup_semantic
    machinery), so compare cost is Σ|label∩cell|² with cell size held
    ~constant by scaling k, never Σ|label|² and never corpus² (the r6
    weak-grade fix: a raw-label block grows quadratically inside any
    label whose survivor count tracks the corpus); only k2 survivors
    enter it.  The balance cap derives from a LABELS-sized aggregate
    broadcast back.  Every gate is exact integer/rounded-double logic
    — the argmin distance is the same sequential IEEE fold both engines
    evaluate identically — so the funnel stays bit-stable across
    engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "k1",
        F.aggregate(
            F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        > 0,
    ).localCheckpoint(eager=True)

    ex = base.where("k1").select(
        "vec_id", "label", F.posexplode("v").alias("p0", "x")
    ).select("vec_id", "label", (F.col("p0") + 1).alias("pos"), "x")
    cent = ex.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m")
    )
    # Distance to the centroid computed MAP-SIDE (round 15, guide §2.1):
    # the old spelling joined the exploded (vec_id,label,pos,x) table —
    # |emb|×64 rows — onto cent and re-aggregated by vec_id, so the
    # posexplode ran TWICE (once under cent, once here) and the re-agg
    # shuffled |emb|×64 rows back down.  Instead the per-label mean
    # vector (labels-sized) is collected into one broadcast array and
    # the fold runs as a zip_with over the original arrays.  Bit-
    # identical: the per-term decimal(38,12) cast is unchanged and
    # DECIMAL addition is exact + associative, so HOF-sequential order
    # equals the SQL sum in any order; marr is sliced to len(v) so a
    # ragged vector folds exactly its own positions, as the inner join
    # on (label,pos) did.
    ms = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform(F.col("pm"), lambda s: s["m"]).alias("marr"))
    )
    # Accumulator at decimal(25,12), NOT (38,12): adding two (38,12)s
    # pushes precision past the 38 cap and Spark trims the SCALE
    # (→ 38,11) — a per-step rounding the SQL sum never does.  At
    # (25,12) the add is (26,12) — uncapped, scale intact — and every
    # cast is exact: |x| < 0.6 in this table so each (x−m)² < 1.5 and
    # the 64-term sum < 10², eleven orders of magnitude inside the
    # 13 integer digits.  The per-term (38,12) cast stays first so the
    # term values are bit-identical to the exploded spelling's.
    d2 = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.slice(F.col("marr"), F.lit(1), F.size(F.col("v"))),
            lambda x, m: ((x - m) * (x - m))
            .cast("decimal(38,12)")
            .cast("decimal(25,12)"),
        ),
        F.lit(0).cast("decimal(25,12)"),
        lambda acc, t: (acc + t).cast("decimal(25,12)"),
    )
    f1 = (
        base.join(F.broadcast(ms), "label", "left")
        .withColumn("dist", F.round(F.sqrt(d2.cast("double")), 6))
        .withColumn(
            "k2",
            F.col("k1") & F.coalesce(F.col("dist") <= 1.01, F.lit(False)),
        )
        .select("vec_id", "label", "v", "k1", "k2")
        .localCheckpoint(eager=True)
    )

    from ..functions import similarity as S

    # Diversity gate, CELL-BLOCKED (r6 verdict: the old raw-`label` block
    # let one label's survivor cell grow with the corpus and its pair
    # count grow quadratically).  k2 survivors are assigned to their
    # nearest seed centroid — the ≤16 lowest-vec_id valid 64-dim vectors,
    # the dedup_semantic/SemDeDup machinery (tier3.py:1562): RNG-free,
    # broadcast O(k·d), map-only argmin — and the pair join blocks on
    # (label, cell): compare cost Σ|label∩cell|², never Σ|label|², with
    # k scaled at production scale to keep cells ~constant-size.  A
    # suppressor must now share the survivor's CELL as well as its label
    # (SemDeDup prunes within cluster); the oracle mirrors the seed set
    # and argmin exactly.  Vectors off the pinned 64-dim grid get no
    # cell and bypass the gate on BOTH engines — a ragged vector
    # NULL-pads the distance fold and Spark's struct-min orders NULL
    # opposite to DuckDB's row_number (see S.sqdist).
    seeds = (
        base.where(F.col("k1") & (F.size("v") == 64) & (F.col("vec_id") < 16))
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("c"))
        .agg(F.sort_array(F.collect_list(F.struct("cid", "c"))).alias("cents"))
    )
    # norms once per VECTOR (materialized pre-join), not once per pair:
    # the pair join then folds one dot per pair instead of three
    surv = (
        f1.where(F.col("k2") & (F.size("v") == 64))
        .crossJoin(F.broadcast(seeds))
        .select(
            "vec_id",
            F.col("label").alias("lab"),
            "v",
            F.array_min(
                F.transform(
                    F.col("cents"),
                    lambda ct: F.struct(
                        S.sqdist(F.col("v"), ct["c"]).alias("d"),
                        ct["cid"].alias("cid"),
                    ),
                )
            )["cid"].alias("cell"),
            F.sqrt(S.dot(F.col("v"), F.col("v"))).alias("nrm"),
        )
        .localCheckpoint(eager=True)
    )
    a = surv.select(
        F.col("vec_id").alias("a_id"), "lab", "cell",
        F.col("v").alias("av"), F.col("nrm").alias("an"),
    )
    b = surv.select(
        F.col("vec_id").alias("b_id"), "lab", "cell",
        F.col("v").alias("bv"), F.col("nrm").alias("bn"),
    )
    simdrop = (
        a.join(b, ["lab", "cell"])
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            F.round(
                S.dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")),
                4,
            )
            >= 0.3
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    # Narrow flag-table checkpoint (round 15, guide §1.3 — the
    # pipeline_pretrain_corpus dc pattern): f2 is consumed TWICE (the
    # cap broadcast build and the f3 window chain), and un-staged each
    # consumer re-ran the simdrop PAIR JOIN.  Only the flags survive
    # (vec_id, label, k1–k3) — the 64-dim payload stays behind in f1's
    # checkpoint, so the barrier is trivial while the quadratic pair
    # compare now runs once.
    f2 = (
        f1.join(simdrop, "vec_id", "left")
        .withColumn("k3", F.col("k2") & F.col("dropped").isNull())
        .select("vec_id", "label", "k1", "k2", "k3")
        .localCheckpoint(eager=True)
    )
    cap = F.broadcast(
        f2.where("k3")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("nl"))
        .agg(F.min("nl").cast("long").alias("cap"))
    )
    f3 = (
        f2.crossJoin(cap)
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("label", "k3").orderBy("vec_id")
            ),
        )
        .withColumn("k4", F.col("k3") & (F.col("rnk") <= F.col("cap")))
    )

    def _stage(name, flag):
        return F.struct(
            F.lit(name).alias("stage"),
            flag.cast("long").alias("inc"),
            F.when(flag, F.col("label")).otherwise(F.lit(None)).alias("lab"),
        )

    exploded = f3.select(
        F.explode(
            F.array(
                _stage("s0_raw", F.lit(True)),
                _stage("s1_valid", F.col("k1")),
                _stage("s2_central", F.col("k2")),
                _stage("s3_diverse", F.col("k3")),
                _stage("s4_balanced", F.col("k4")),
            )
        ).alias("s")
    )
    return exploded.groupBy(F.col("s.stage").alias("stage")).agg(
        F.sum("s.inc").cast("long").alias("n_vecs"),
        F.count_distinct("s.lab").cast("long").alias("n_labels"),
    )


# ---------------------------------------------------------------------------
# ANN recall audit: LSH top-k vs exact top-k, in-engine
# ---------------------------------------------------------------------------


@query(
    "sim_search_recall_audit",
    f"""
    WITH e0 AS (SELECT vec_id AS vid,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    e AS (SELECT * FROM e0 WHERE list_inner_product(v, v) > 0),
    q AS (SELECT vid AS qid, v AS qv FROM e WHERE vid < 5),
    ex AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, vid) AS rk
           FROM (SELECT q.qid, e.vid,
                        round(list_inner_product(q.qv, e.v)
                          / (sqrt(list_inner_product(q.qv, q.qv))
                             * sqrt(list_inner_product(e.v, e.v))), 4) AS sim
                 FROM e JOIN q ON e.vid != q.qid)),
    exact10 AS (SELECT qid, vid FROM ex WHERE rk <= 10),
    eb AS (SELECT vid, v, {{bucket}} AS bucket FROM e),
    qb AS (SELECT vid AS qid, v AS qv, bucket FROM eb WHERE vid < 5),
    ls AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, vid) AS rk
           FROM (SELECT qb.qid, e.vid,
                        round(list_inner_product(qb.qv, e.v)
                          / (sqrt(list_inner_product(qb.qv, qb.qv))
                             * sqrt(list_inner_product(e.v, e.v))), 4) AS sim
                 FROM eb e JOIN qb
                   ON e.bucket = qb.bucket AND e.vid != qb.qid)),
    lsh10 AS (SELECT qid, vid FROM ls WHERE rk <= 10)
    SELECT x.qid,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM lsh10 l2 WHERE l2.qid = x.qid)
                AS BIGINT) AS n_lsh,
           CAST(sum(CASE WHEN l.vid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit
    FROM exact10 x LEFT JOIN lsh10 l ON x.qid = l.qid AND x.vid = l.vid
    GROUP BY x.qid
    """.format(bucket=_LSH_BUCKET_SQL.format(v='v')),
)
def sim_search_recall_audit(spark: SparkSession, sf_dir: str) -> SDF:
    """ANN RECALL audit, in-engine: for each of the 5 probe queries,
    intersect the sign-LSH approximate top-10 (sim_search_lsh's plan)
    with the exact brute-force top-10 (sim_search_topk's plan) and
    report hits — completing the sketch-audit family (minhash audit:
    Jaccard sketch vs exact; agg_hll_audit: HLL vs exact;
    agg_countmin_heavyhit: CMS one-sided error; this: ANN recall@10).
    The operational question a 100 TB vector store answers before
    trusting its index: what recall does this bucketing actually buy on
    MY data?

    Determinism: both rankings use round-4 cosines with vid tie-breaks
    (the sim_search contract), so top-10 membership — and therefore the
    hit count — is engine-identical; the report is pure BIGINT (recall
    = n_hit / n_exact left to the caller, the quotient lesson).

    Scale: the exact leg broadcasts 5 queries over one corpus map-scan
    (its cost IS the audit's point — run it on a sampled slice at
    production scale); the LSH leg touches only same-bucket rows; the
    final intersect joins two 50-row rankings."""
    from ..functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10).select(
        "qid", "vid"
    )
    # ≤50 rows, consumed twice (the hit join and the per-query n_lsh
    # count) — un-staged, the whole LSH leg (bucket join + cosine +
    # top-k window) ran twice (round 15, guide §1.3).
    lsh = (
        S.cosine_topk_lsh(emb, query_ids=[0, 1, 2, 3, 4], k=10)
        .select("qid", F.col("vid").alias("lvid"))
        .localCheckpoint(eager=True)
    )
    lsh_n = lsh.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_lsh")
    )
    return (
        exact.join(
            lsh, (exact["qid"] == lsh["qid"]) & (exact["vid"] == lsh["lvid"]),
            "left",
        )
        .drop(lsh["qid"])
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.col("lvid").isNotNull().cast("int"))
            .cast("long")
            .alias("n_hit"),
        )
        .join(F.broadcast(lsh_n), "qid", "left")
        .select(
            "qid", "n_exact",
            # a query whose bucket holds NO other vector has an empty
            # LSH leg: report n_lsh = 0 rather than dropping the row
            # (adversarial fixture: isolated-bucket query)
            F.coalesce(F.col("n_lsh"), F.lit(0).cast("long")).alias("n_lsh"),
            "n_hit",
        )
    )


# ---------------------------------------------------------------------------
# cross-split contamination audit: near-dup pairs spanning k-fold boundaries
# ---------------------------------------------------------------------------


@query(
    "dq_split_leakage",
    f"""
    WITH t AS ({_SHINGLES3_SQL}),
    p AS (SELECT a.doc_id AS a, b.doc_id AS b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / (len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh))) AS j
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0),
    q AS (SELECT a, b, round(j, 4) AS jaccard FROM p WHERE j >= 0.5),
    f AS (SELECT jaccard,
                 least((a * 1103515245 + 12345) % 2147483647 % 5,
                       (b * 1103515245 + 12345) % 2147483647 % 5) AS fold_a,
                 greatest((a * 1103515245 + 12345) % 2147483647 % 5,
                          (b * 1103515245 + 12345) % 2147483647 % 5) AS fold_b
          FROM q)
    SELECT CAST(fold_a AS BIGINT) AS fold_a,
           CAST(fold_b AS BIGINT) AS fold_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           max(jaccard) AS max_jaccard
    FROM f GROUP BY fold_a, fold_b
    """,
)
def dq_split_leakage(spark: SparkSession, sf_dir: str) -> SDF:
    """Cross-split CONTAMINATION audit — the composition every train/eval
    split needs before anyone trusts an eval number: near-duplicate pairs
    (dedup_near_minhash's exact-verified ≥0.5-Jaccard set) joined against
    a doc-level k-fold assignment (data_kfold_assign's portable LCG,
    k=5), rolled up per unordered fold pair.  Off-diagonal rows
    (fold_a ≠ fold_b) are LEAKED eval pairs: a doc whose near-twin sits
    in another fold inflates held-out metrics.  max_jaccard (of the
    round-4 verified values) shows how bad the worst leak is.

    Scale: the pair set comes from the banded minhash plan (LSH bucket
    equi-join + exact verify — never corpus²); fold assignment is a
    map-side expression on the pair row (two LCGs, no join back to the
    corpus); the rollup shuffles ≤15 fold-pair groups with map-side
    partials.  The audit's marginal cost over the dedup pass it reuses
    is one 15-group aggregate."""
    pairs = D.minhash_pairs_cached(spark, sf_dir, threshold=0.5)

    def fold(c):
        return (c * 1103515245 + 12345) % 2147483647 % 5

    fa, fb = fold(F.col("a")), fold(F.col("b"))
    return (
        pairs.select(
            F.least(fa, fb).cast("long").alias("fold_a"),
            F.greatest(fa, fb).cast("long").alias("fold_b"),
            "jaccard",
        )
        .groupBy("fold_a", "fold_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation audit: recall@10 of the 16-dim prefix vs full 64-dim
# ---------------------------------------------------------------------------


@query(
    "emb_matryoshka_audit",
    """
    WITH e0 AS (SELECT vec_id AS vid,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    ef AS (SELECT vid, v FROM e0 WHERE list_inner_product(v, v) > 0),
    qf AS (SELECT vid AS qid, v AS qv FROM ef WHERE vid < 5),
    ex AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, vid) AS rk
           FROM (SELECT q.qid, e.vid,
                        round(list_inner_product(q.qv, e.v)
                          / (sqrt(list_inner_product(q.qv, q.qv))
                             * sqrt(list_inner_product(e.v, e.v))), 4) AS sim
                 FROM ef e JOIN qf q ON e.vid != q.qid)),
    exact10 AS (SELECT qid, vid FROM ex WHERE rk <= 10),
    et AS (SELECT vid, v[1:16] AS t FROM e0
           WHERE list_inner_product(v[1:16], v[1:16]) > 0),
    qt AS (SELECT vid AS qid, t AS qv FROM et WHERE vid < 5),
    tx AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, vid) AS rk
           FROM (SELECT q.qid, e.vid,
                        round(list_inner_product(q.qv, e.t)
                          / (sqrt(list_inner_product(q.qv, q.qv))
                             * sqrt(list_inner_product(e.t, e.t))), 4) AS sim
                 FROM et e JOIN qt q ON e.vid != q.qid)),
    trunc10 AS (SELECT qid, vid FROM tx WHERE rk <= 10)
    SELECT x.qid,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM trunc10 t2 WHERE t2.qid = x.qid)
                AS BIGINT) AS n_trunc,
           CAST(sum(CASE WHEN t.vid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit
    FROM exact10 x LEFT JOIN trunc10 t ON x.qid = t.qid AND x.vid = t.vid
    GROUP BY x.qid
    """,
)
def emb_matryoshka_audit(spark: SparkSession, sf_dir: str) -> SDF:
    """MATRYOSHKA-truncation recall audit: for each probe query, the exact
    cosine top-10 computed on the 16-dim PREFIX of the 64-dim embedding,
    intersected with the full-dimension exact top-10 — the question a
    store asks before serving truncated vectors (8x less memory
    bandwidth, 4x smaller index) is exactly "what recall does the prefix
    keep on MY data".  Sibling of sim_search_recall_audit (which audits
    the LSH bucketing; this audits DIMENSION truncation — together they
    price the two standard ANN cost levers).

    Determinism: both rankings are round-4 cosines with vid tie-breaks
    (the sim_search contract); validity is gated PER LEG (a vector whose
    prefix is all-zero has no 16-dim direction and is excluded from the
    truncated leg only — under ANSI the 0-divisor cosine would abort the
    job); the report is pure BIGINT.

    Scale: both legs broadcast the 5 probe queries over one corpus map
    scan each — the truncated leg's scan reads 1/4 of the vector bytes
    (at production scale that is the audited win); the intersect joins
    two 50-row rankings."""
    from ..functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10).select(
        "qid", "vid"
    )
    trunc = S.cosine_topk(
        emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding")),
        query_ids=[0, 1, 2, 3, 4],
        k=10,
    ).select("qid", F.col("vid").alias("tvid"))
    # trunc is consumed twice but deliberately NOT checkpointed
    # (round-15 A/B): the duplicated leg reads 1/4 of the vector bytes
    # and measured CHEAPER than the eager barrier at sf0.1 (~0.75 vs
    # ~0.83 s warm) — the sim_search_recall_audit fix does not transfer
    # because the LSH leg there stacks a bucket join the truncated scan
    # does not.
    trunc_n = trunc.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_trunc")
    )
    return (
        exact.join(
            trunc,
            (exact["qid"] == trunc["qid"]) & (exact["vid"] == trunc["tvid"]),
            "left",
        )
        .drop(trunc["qid"])
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.col("tvid").isNotNull().cast("int"))
            .cast("long")
            .alias("n_hit"),
        )
        .join(F.broadcast(trunc_n), "qid", "left")
        .select(
            "qid", "n_exact",
            F.coalesce(F.col("n_trunc"), F.lit(0).cast("long")).alias(
                "n_trunc"
            ),
            "n_hit",
        )
    )


# ---------------------------------------------------------------------------
# mixture token budgeting: sqrt-scaled source weights -> sampling plan
# ---------------------------------------------------------------------------


@query(
    "data_mixture_token_budget",
    f"""
    WITH s AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(len({_TOKS})) AS BIGINT) AS tokens
               FROM documents GROUP BY source),
    r AS (SELECT *, round(sqrt(tokens), 6) AS rs FROM s),
    tot AS (SELECT CAST(sum(CAST(rs AS DECIMAL(38,6))) AS DOUBLE) AS total_rs,
                   CAST(sum(tokens) AS BIGINT) AS total_tokens
            FROM r)
    SELECT source, n_docs, tokens,
           round(rs / total_rs, 6) AS weight,
           CAST(round(4 * total_tokens * round(rs / total_rs, 6))
                AS BIGINT) AS target_tokens,
           round(CAST(round(4 * total_tokens * round(rs / total_rs, 6))
                      AS BIGINT) / CAST(tokens AS DOUBLE), 4) AS epochs
    FROM r, tot
    """,
)
def data_mixture_token_budget(spark: SparkSession, sf_dir: str) -> SDF:
    """Mixture PLANNING for a pretraining token budget: per-source token
    inventory → sqrt-scaled sampling weights (the standard
    uniform-vs-proportional compromise: weight_s ∝ √tokens_s, upweighting
    small high-value sources without flattening the mixture) → target
    token allocation for a budget of 4× the corpus (so some sources run
    multiple epochs) → implied epoch count per source.  The planning
    complement of mixture_sample / mixture_temperature, which EXECUTE a
    given mixture; this computes the plan a run would execute.

    Determinism: per-source √tokens is rounded to 6 before the
    DECIMAL-folded total (the r5 fold lesson — never sum raw doubles);
    weight and epochs are single IEEE divisions of exact/rounded inputs,
    rounded for display; target_tokens goes through BIGINT before the
    epochs quotient so both engines divide identical integers.

    Scale: one token-count shuffle to |sources| groups with map-side
    partials (token counting itself is a codegen'd regexp split on the
    scan — at 100 TB this is the only full-corpus pass, and it is
    map-only); the weight normalization joins a 1-row broadcast total
    onto a sources-sized frame."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(TX.tokens(F.col("text")))).cast("long").alias("tokens"),
    )
    r = s.withColumn("rs", F.round(F.sqrt(F.col("tokens")), 6))
    tot = r.agg(
        F.sum(F.col("rs").cast("decimal(38,6)")).cast("double").alias(
            "total_rs"
        ),
        F.sum("tokens").cast("long").alias("total_tokens"),
    )
    weight = F.round(F.col("rs") / F.col("total_rs"), 6)
    target = F.round(4 * F.col("total_tokens") * weight).cast("long")
    return r.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        weight.alias("weight"),
        target.alias("target_tokens"),
        F.round(target / F.col("tokens").cast("double"), 4).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# month-over-month revenue rank movers
# ---------------------------------------------------------------------------


@query(
    "window_top_movers",
    """
    WITH rev AS (SELECT n_name AS nation,
                        strftime(o_orderdate, '%Y-%m') AS month,
                        sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
                 FROM orders
                 JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey
                 GROUP BY n_name, strftime(o_orderdate, '%Y-%m')),
    rk AS (SELECT nation, month, CAST(rev AS DOUBLE) AS revenue,
                  CAST(rank() OVER (PARTITION BY month
                                    ORDER BY rev DESC, nation) AS BIGINT)
                      AS rnk
           FROM rev),
    d AS (SELECT *, lag(rnk) OVER (PARTITION BY nation
                                   ORDER BY month) AS prev_rank
          FROM rk)
    SELECT nation, month, revenue, rnk AS rank_now,
           CAST(prev_rank AS BIGINT) AS prev_rank,
           CAST(prev_rank - rnk AS BIGINT) AS delta
    FROM d WHERE prev_rank IS NOT NULL AND prev_rank <> rnk
    """,
)
def window_top_movers(spark: SparkSession, sf_dir: str) -> SDF:
    """Month-over-month RANK MOVERS: nations ranked by exact DECIMAL
    revenue within each month, self-compared via lag() along each
    nation's month series; emits only rows whose rank actually moved
    (delta = prev_rank − rank_now, positive = climbed).  The leaderboard
    drift report behind every "top gainers" dashboard tile.

    Determinism: ranking is over the exact DECIMAL revenue (never the
    display double) with nation-name tie-breaks; month keys are string
    yyyy-MM on both engines; all ranks are BIGINT.

    Scale: two broadcast dim joins (customer at sf is the largest — at
    true scale it exceeds the broadcast threshold and AQE picks shuffle
    hash; nation always broadcasts) feed one (nation × month) rollup —
    the only data-sized shuffle; both window passes run on the
    aggregate-sized (nations × months) frame."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev"))
    )
    rk = rev.select(
        "nation",
        "month",
        F.col("rev").cast("double").alias("revenue"),
        F.rank()
        .over(W.partitionBy("month").orderBy(F.desc("rev"), F.asc("nation")))
        .cast("long")
        .alias("rank_now"),
    )
    d = rk.withColumn(
        "prev_rank",
        F.lag("rank_now").over(W.partitionBy("nation").orderBy("month")),
    )
    return d.where(
        F.col("prev_rank").isNotNull() & (F.col("prev_rank") != F.col("rank_now"))
    ).select(
        "nation",
        "month",
        "revenue",
        "rank_now",
        F.col("prev_rank").cast("long").alias("prev_rank"),
        (F.col("prev_rank") - F.col("rank_now")).cast("long").alias("delta"),
    )


# ---------------------------------------------------------------------------
# true BPE merge learning: iterative pair-merge over the word-frequency table
# ---------------------------------------------------------------------------

# Symbol separator for the wrapped-sequence encoding (unit separator —
# outside every token alphabet \s+ tokenization can produce from the
# corpus).  A word's symbol sequence [s1, s2, ...] is encoded as the
# string ␟s1␟␟s2␟... : each symbol wrapped in its own separators, so the
# merge of adjacent pair (l, r) is ONE literal string replace of
# ␟l␟␟r␟ with ␟lr␟ — leftmost non-overlapping replacement IS greedy BPE
# application, and consecutive merge sites don't share a separator (the
# single-separator encoding would let the first match consume the
# boundary the second needs).
_BPE_SEP = "\x1f"
_BPE_MERGES = 8


def _bpe_oracle_sql(k: int = _BPE_MERGES) -> str:
    """DuckDB mirror of the k merge rounds, generated as a chained CTE
    block.  MATERIALIZED is load-bearing: each round's sequence table is
    consumed by the next round AND the final per-step rollup, and
    DuckDB's default CTE inlining re-evaluates the whole chain per
    consumer — exponential in k (measured 9.9 s inlined vs 0.09 s
    materialized at k=8, sf0.001)."""
    parts = [
        f"""w AS MATERIALIZED (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest({_TOKS}) AS tok FROM documents) GROUP BY tok)""",
        """s0 AS MATERIALIZED (
      SELECT word, array_to_string(list_transform(string_split(word, ''),
             c -> chr(31) || c || chr(31)), '') AS s, n FROM w)""",
    ]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(f"""p{i} AS MATERIALIZED (
      SELECT pr.l AS l, pr.r AS r, CAST(sum(n) AS BIGINT) AS pn FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                 i -> struct_pack(l := syms[i], r := syms[i+1]))) AS pr, n
        FROM (SELECT string_split(trim(s, chr(31)), chr(31)||chr(31)) AS syms,
                     n FROM s{p}) z) zz
      GROUP BY pr.l, pr.r)""")
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT l, r, pn FROM p{i} "
            f"ORDER BY pn DESC, l, r LIMIT 1)"
        )
        parts.append(f"""s{i} AS MATERIALIZED (
      SELECT word, replace(s, chr(31)||t.l||chr(31)||chr(31)||t.r||chr(31),
                     chr(31)||t.l||t.r||chr(31)) AS s, n
      FROM s{p} CROSS JOIN t{i} t)""")
    sel = "\n    UNION ALL\n".join(
        f"""    SELECT {i} AS step, l AS lft, r AS rgt, l || r AS merged,
           pn AS pair_n,
           (SELECT CAST(sum(n * (len(s) - len(replace(s, chr(31), ''))) / 2)
                   AS BIGINT) FROM s{i}) AS corpus_symbols
    FROM t{i}""" for i in range(1, k + 1))
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT * FROM (\n" + sel + "\n) ORDER BY step")


@query("text_token_bpe_merge", _bpe_oracle_sql())
def text_token_bpe_merge(spark: SparkSession, sf_dir: str) -> SDF:
    """TRUE byte-pair-encoding merge learning (Sennrich et al. 2016,
    public): k rounds of count-adjacent-pairs → take the most frequent
    pair (ties to the lexicographically smallest) → merge it everywhere,
    exactly the algorithm real tokenizers train with — upgrading the
    suite's token accounting beyond text_token_bpe's regex proxy (r6
    verdict gap #2).  Output: the learned merge table, one row per round
    (step, lft, rgt, merged, pair frequency) plus the weighted corpus
    symbol count AFTER that merge — the compression curve a tokenizer
    budget decision actually reads.

    The classic trainer trick makes this lake-scale: merges are learned
    over the WORD-FREQUENCY table, not the corpus — the corpus is
    touched once (tokenize → explode → groupBy word), and the k-round
    merge loop then runs over the collected vocabulary (Heaps'-law
    bounded, sub-linear in corpus size) exactly the way production BPE
    trainers are architected: distributed count, local merge loop (see
    _bpe_learn's round-15 note).  The merge application is a single
    string replace per word: symbol sequences ride as ␟-wrapped strings
    (see _BPE_SEP) so greedy non-overlapping BPE application is
    literal-string replace — no per-symbol array churn, and DuckDB
    mirrors it with the identical replace call."""
    _, out = _bpe_learn(spark, sf_dir)
    res = out[0]
    for df in out[1:]:
        res = res.unionAll(df)
    return res


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """The shared k-round merge-learning loop (see text_token_bpe_merge
    for the algorithm and scale argument).  Returns (final word-sequence
    table after all merges, per-step merge-row DataFrames) so the
    trainer (text_token_bpe_merge) and the applier
    (text_token_bpe_apply) stay one implementation.

    ROUND-15 architecture note: the merge loop itself now runs LOCALLY
    over the collected word-frequency table — the standard production
    BPE trainer split (distributed corpus count, single-process merge
    loop over the vocabulary).  The pre-r15 shape ran each round as
    Spark jobs (pair-explode aggregate + TakeOrdered + two eager
    checkpoints); with a Heaps'-bounded vocabulary every one of those
    ~16 driver round-trips moved kilobytes, and the loop cost was pure
    job-scheduling latency (5.5 s across the two BPE ids at sf0.1 for
    a 31-word vocabulary).  The collect is bounded by construction:
    |vocab| rows of (word, n), sub-linear in corpus size — the same
    boundedness argument the docstring always made for the per-round
    shuffles, now priced at ONE transfer instead of 3 per round.  The
    local loop replays the engine semantics exactly: pair counts are
    integer sums, the arg-max tie-break is (pn DESC, l ASC, r ASC)
    with codepoint string order (= UTF-8 binary order, both engines),
    and the merge is the same greedy non-overlapping literal replace
    on the ␟-wrapped sequence."""
    sep = F.lit(_BPE_SEP)
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    vocab = [
        (r["word"], "".join(_BPE_SEP + c + _BPE_SEP for c in r["word"]),
         int(r["n"]))
        for r in words.collect()
    ]

    out = []
    steps = []
    for step in range(1, _BPE_MERGES + 1):
        counts: dict = {}
        for _, s, n in vocab:
            syms = s[1:-1].split(_BPE_SEP + _BPE_SEP)
            for i in range(len(syms) - 1):
                pr = (syms[i], syms[i + 1])
                counts[pr] = counts.get(pr, 0) + n
        if not counts:
            steps.append(None)
            continue
        (lft, rgt), pn = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        pat = _BPE_SEP + lft + _BPE_SEP + _BPE_SEP + rgt + _BPE_SEP
        rep = _BPE_SEP + lft + rgt + _BPE_SEP
        vocab = [(w, s.replace(pat, rep), n) for w, s, n in vocab]
        n_syms = sum(
            n * (len(s) - len(s.replace(_BPE_SEP, ""))) // 2
            for _, s, n in vocab
        )
        steps.append((step, lft, rgt, pn, n_syms))
    for st in steps:
        if st is None:
            out.append(
                spark.range(0).select(
                    F.lit(0).cast("int").alias("step"),
                    F.lit("").alias("lft"),
                    F.lit("").alias("rgt"),
                    F.lit("").alias("merged"),
                    F.lit(0).cast("long").alias("pair_n"),
                    F.lit(0).cast("long").alias("corpus_symbols"),
                )
            )
            continue
        step, lft, rgt, pn, n_syms = st
        out.append(
            spark.range(1).select(
                F.lit(step).cast("int").alias("step"),
                F.lit(lft).alias("lft"),
                F.lit(rgt).alias("rgt"),
                F.lit(lft + rgt).alias("merged"),
                F.lit(pn).cast("long").alias("pair_n"),
                F.lit(n_syms).cast("long").alias("corpus_symbols"),
            )
        )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    seqs = spark.createDataFrame(
        vocab,
        StructType(
            [
                StructField("word", StringType(), False),
                StructField("s", StringType(), False),
                StructField("n", LongType(), False),
            ]
        ),
    )
    return seqs, out


@query(
    "text_token_bpe_apply",
    _bpe_oracle_sql().split("\nSELECT * FROM (")[0] + f""",
    app AS MATERIALIZED (
      SELECT word, n,
             (len(s) - len(replace(s, chr(31), ''))) / 2 AS syms
      FROM s{_BPE_MERGES}),
    tc AS (SELECT source, tok AS word, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents) u
           GROUP BY source, tok),
    agg AS (SELECT tc.source,
                   CAST(sum(c) AS BIGINT) AS ws_tokens,
                   CAST(sum(c * syms) AS BIGINT) AS bpe_tokens
            FROM tc JOIN app USING (word) GROUP BY tc.source),
    meta AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(n_chars) AS BIGINT) AS n_chars
             FROM documents GROUP BY source)
    SELECT m.source, m.n_docs, m.n_chars,
           coalesce(a.ws_tokens, 0) AS ws_tokens,
           coalesce(a.bpe_tokens, 0) AS bpe_tokens
    FROM meta m LEFT JOIN agg a ON m.source = a.source
    """,
)
def text_token_bpe_apply(spark: SparkSession, sf_dir: str) -> SDF:
    """APPLY the learned BPE merge table: per-source REAL token counts
    under the trained tokenizer (chars, whitespace tokens, post-merge
    BPE tokens) — the accounting that makes token-budget decisions
    (data_mixture_token_budget, seq_pack_fill) consistent with an
    actual tokenizer instead of the whitespace proxy (the r6 verdict's
    gap #2 follow-through: learn, then USE the merges).

    Scale: the merges come from _bpe_learn's vocabulary-sized loop; the
    application never touches document text again — per-word post-merge
    symbol counts are separator arithmetic on the final word-sequence
    table ((len(s) − len(without-seps)) / 2), and the corpus-side cost
    is one (source, word) count rollup joined against the
    vocabulary-sized count table.  Sources whose documents are all
    token-free survive with zero counts via the left join (adversarial
    fixture: empty/whitespace-only docs)."""
    seqs, _ = _bpe_learn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    sep = F.lit(_BPE_SEP)
    app = seqs.select(
        "word",
        (
            (
                F.length("s")
                - F.length(F.replace(F.col("s"), sep, F.lit("")))
            )
            / 2
        ).alias("syms"),
    )
    tc = (
        docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = (
        tc.join(F.broadcast(app), "word")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("ws_tokens"),
            F.sum(F.col("c") * F.col("syms")).cast("long").alias("bpe_tokens"),
        )
    )
    meta = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return meta.join(agg, "source", "left").select(
        "source",
        "n_docs",
        "n_chars",
        F.coalesce(F.col("ws_tokens"), F.lit(0).cast("long")).alias("ws_tokens"),
        F.coalesce(F.col("bpe_tokens"), F.lit(0).cast("long")).alias(
            "bpe_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# batch model-inference scoring: hashed-feature linear classifier, mapInArrow
# ---------------------------------------------------------------------------

_QM_BUCKETS = 4096
_QM_HASH_MOD = 1_000_000_007  # the portable rolling-hash modulus (text.py)


def _qm_weights():
    """The classifier's weight vector, derived from an LCG over the
    bucket index: w[b] = (((b·1103515245 + 12345) mod 2^31-1) mod 2001
    − 1000) / 1000 ∈ [−1, 1].  A deterministic stand-in for trained
    fastText-style weights (the container ships no model artifacts —
    north-star sanction); a real deployment replaces this array with
    the trained vector and NOTHING else changes: the broadcast, the
    Arrow batching, the bucket hashing and the gate are the production
    plumbing being exercised."""
    import numpy as np

    b = np.arange(_QM_BUCKETS, dtype=np.int64)
    return ((b * 1103515245 + 12345) % 2147483647 % 2001 - 1000) / 1000.0


@query(
    "text_quality_model",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    z AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(toks, tok ->
                     CAST((({_fp_sql('tok')} % {_QM_BUCKETS})
                           * 1103515245 + 12345) % 2147483647 % 2001 - 1000
                          AS DOUBLE) / 1000.0)),
                   (a, x) -> a + x) AS zz
          FROM t)
    SELECT doc_id, n_toks,
           CASE WHEN n_toks > 0 THEN zz / n_toks END AS score,
           CAST((CASE WHEN n_toks > 0 THEN zz / n_toks END) >= 0
                AS BIGINT) AS keep
    FROM z
    """,
)
def text_quality_model(spark: SparkSession, sf_dir: str) -> SDF:
    """Batch MODEL-INFERENCE scoring — the industry-standard quality gate
    the curation funnels lacked (r6 verdict gap #3): a fastText-shape
    linear classifier over hashed unigram features, evaluated as an
    Arrow-batched map stage.  Per document: tokens → portable rolling
    hash → bucket = h mod 4096 → weight lookup in a BROADCAST weight
    vector → sequential logit fold; the emitted `keep` flag (mean logit
    ≥ 0) is the gate a pretrain funnel consumes exactly like its
    hand-built signal flags.

    Spark-first mechanics: tokenization stays JVM-side (the shared
    _TOKS definition), so the Arrow boundary ships (doc_id, toks) only;
    the scorer is ``mapInArrow`` with numpy — one weights[buckets]
    gather and one cumsum per batch, never per-row Python.  The weight
    vector rides a SparkContext broadcast: O(model) bytes to each
    executor once, the same plumbing a 10M-bucket production model
    needs.  The JVM twin (per-token element_at into a 4096-literal
    array + aggregate fold) is expressible but builds a 4096-element
    literal expression tree per reference — the documented reason this
    IS the Arrow path.  Determinism: the logit is a sequential IEEE
    left fold (np.cumsum ≡ DuckDB list_reduce order), and the score is
    the UNROUNDED quotient logit/n — one IEEE division of bit-identical
    doubles, the agg_groupby avg_qty pattern.  The first cut rounded it
    to 6 dp and the sf0.1 sweep caught a round-half tie on one document
    (Spark rounds the shortest decimal repr of the double, DuckDB the
    binary value — the r5 text_bigram_surprisal lesson: never round a
    quotient of doubles in an exact-hash contract).  Empty documents
    carry a NULL score and NULL keep via try_divide on both engines.

    Scale: one map-only pass over the corpus, no shuffle anywhere; the
    gate composes with pipeline_pretrain_corpus' flag-per-stage rollup
    without materializing an intermediate corpus."""
    import pyarrow as pa

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    bweights = spark.sparkContext.broadcast(_qm_weights())

    def score_batches(batches):
        import numpy as np

        w = bweights.value
        for batch in batches:
            doc_ids = batch.column("doc_id")
            toks_col = batch.column("toks").to_pylist()
            n_toks = np.empty(len(toks_col), dtype=np.int64)
            zs = np.empty(len(toks_col), dtype=np.float64)
            for i, toks in enumerate(toks_col):
                toks = toks or []
                n_toks[i] = len(toks)
                if not toks:
                    zs[i] = 0.0
                    continue
                buckets = np.empty(len(toks), dtype=np.int64)
                for j, tok in enumerate(toks):
                    h = 0
                    for ch in tok:
                        h = (h * 31 + ord(ch)) % _QM_HASH_MOD
                    buckets[j] = h % _QM_BUCKETS
                # cumsum = sequential left fold, the oracle's exact
                # accumulation order (np.sum pairwise-reorders)
                zs[i] = np.cumsum(w[buckets])[-1]
            yield pa.record_batch(
                [doc_ids, pa.array(n_toks), pa.array(zs)],
                names=["doc_id", "n_toks", "zz"],
            )

    scored = toked.mapInArrow(
        score_batches, "doc_id long, n_toks long, zz double"
    )
    score = F.try_divide(F.col("zz"), F.col("n_toks"))
    return scored.select(
        "doc_id",
        "n_toks",
        score.alias("score"),
        (score >= 0).cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# LSH banding calibration: empirical candidate/recall audit per (bands, rows)
# ---------------------------------------------------------------------------

_CAL_P = 1_000_000_007
_CAL_LANES = 32
_CAL_CONFIGS = ((20, 1), (16, 2), (8, 4))
_CAL_THRESHOLD = 0.5


def _cal_oracle_sql() -> str:
    """DuckDB mirror of the calibration: the PORTABLE minhash (LCG lanes
    over rolling-hash shingles — exact BIGINT arithmetic both engines
    evaluate identically, unlike the xxhash64 the production dedup path
    uses) is simulated band-for-band, so candidate COUNTS — not just the
    verified output — are part of the exact-hash contract."""
    p = _CAL_P
    tok_hash = _fp_sql("t")
    parts = [
        f"""tk AS MATERIALIZED (
      SELECT doc_id AS id,
             list_transform({_TOKS}, t -> {tok_hash}) AS th
      FROM documents)""",
        f"""shs AS MATERIALIZED (
      SELECT id, list_distinct(list_transform(range(1, len(th) - 1),
             i -> ((th[i] * 31 + th[i+1]) * 31 + th[i+2]) % {p})) AS sh
      FROM tk WHERE len(th) >= 3)""",
        f"""sig AS MATERIALIZED (
      SELECT id, list_transform(range(0, {_CAL_LANES}),
             i -> list_reduce(list_prepend(CAST({p} AS BIGINT),
                    list_transform(sh, h -> ((2*i + 1) * h + i*i) % {p})),
                  (a, x) -> least(a, x))) AS sig
      FROM shs)""",
    ]
    for ci, (b, r) in enumerate(_CAL_CONFIGS, 1):
        acc = "CAST(0 AS BIGINT)"
        for k in range(r):
            acc = f"(({acc}) * 131 + sig[j*{r} + {k} + 1]) % {p}"
        parts.append(f"""bd{ci} AS MATERIALIZED (
      SELECT id, unnest(range(0, {b})) AS band,
             unnest(list_transform(range(0, {b}), j -> {acc})) AS bucket
      FROM sig)""")
        parts.append(f"""cand{ci} AS MATERIALIZED (
      SELECT DISTINCT x.id AS a, y.id AS b
      FROM bd{ci} x JOIN bd{ci} y
        ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id)""")
    union = " UNION ".join(
        f"SELECT a, b FROM cand{ci}"
        for ci in range(1, len(_CAL_CONFIGS) + 1)
    )
    parts.append(f"pool AS MATERIALIZED ({union})")
    parts.append(f"""ver AS MATERIALIZED (
      SELECT p.a, p.b FROM pool p
      JOIN shs x ON x.id = p.a JOIN shs y ON y.id = p.b
      WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
            >= {_CAL_THRESHOLD})""")
    sel = "\n    UNION ALL\n".join(
        f"""    SELECT {b} AS bands, {r} AS rows_per_band,
           (SELECT CAST(count(*) AS BIGINT) FROM cand{ci}) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM ver v
            WHERE EXISTS (SELECT 1 FROM cand{ci} c
                          WHERE c.a = v.a AND c.b = v.b)) AS n_verified,
           (SELECT CAST(count(*) AS BIGINT) FROM ver v
            WHERE NOT EXISTS (SELECT 1 FROM cand{ci} c
                              WHERE c.a = v.a AND c.b = v.b)) AS n_missed"""
        for ci, (b, r) in enumerate(_CAL_CONFIGS, 1)
    )
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT * FROM (\n" + sel + "\n) ORDER BY bands")


@query("dedup_band_calibration", _cal_oracle_sql())
def dedup_band_calibration(spark: SparkSession, sf_dir: str) -> SDF:
    """LSH BANDING calibration — empirically prices the banding lever the
    dedup family runs on (minhash_near_dup_pairs derives its banding
    from a theoretical miss bound; this measures what each configuration
    actually buys on THIS corpus): for each (bands, rows-per-band) in
    {(20,1), (16,2), (8,4)} over one shared 32-lane signature, the
    candidate-pair count (the cost), the verified ≥0.5-Jaccard pairs it
    finds (the yield), and the verified pairs it MISSES relative to the
    pooled candidates of all configurations (the observed recall gap).
    Completes the sketch-audit family (minhash estimate audit, HLL
    audit, CMS heavy-hitter bound, ANN recall, Matryoshka prefix) with
    the one knob they all hang off.

    Portability: this operator uses a PORTABLE minhash — LCG lanes
    ((2i+1)·h + i²) mod p over rolling-hash shingle fingerprints, the
    simhash63 discipline — so DuckDB simulates the banding bit-for-bit
    and candidate COUNTS join the exact-hash contract (the production
    path's xxhash64 signatures are deliberately not mirrorable; its
    oracle checks only the verify-defined output).

    Scale: one corpus pass builds shingle sets (spread + checkpoint, the
    hashed_shingle_sets shape); the 32-lane signature folds once and is
    shared by every configuration; each configuration is an equi-join on
    (band, bucket) over 8-byte keys — never corpus²; the pool verify
    touches only pooled candidates.  Adding a candidate configuration
    costs one more banded equi-join, which is exactly why a calibration
    pass before a 100 TB dedup run is cheap insurance."""
    docs = load_table(spark, sf_dir, "documents")
    th = D.spread(docs.select(F.col("doc_id").alias("id"), "text")).select(
        "id", D.token_hashes(TX.tokens(F.col("text"))).alias("th")
    )
    n = F.size("th")

    # Shingle sets, 32-lane signature fold AND all 44 band buckets in ONE
    # vectorized Arrow pass (round 15, guide §4.2): the HOF shape
    # (transform over element_at triples, then aggregate+zip_with with a
    # fresh 32-long accumulator per shingle, then 44 nested bucket folds
    # built as a ~300-node Catalyst tree) is CodegenFallback — ~10M
    # interpreted boxed steps plus ~0.5M array allocations at sf0.1, and
    # the band expression tree alone cost ~1 s of driver analysis per
    # call.  Every ingredient is exact int64 arithmetic on values < p
    # (max intermediate 31·31·p ≈ 1e12, lane 63·p ≈ 6.3e10, bucket fold
    # 131·p ≈ 1.3e11 — far inside both int64 and the JVM fold), so numpy
    # replays it bit-for-bit; the shingle set is emitted SORTED-distinct
    # (array_distinct kept first-occurrence order, but sh feeds only
    # set-semantics consumers: the lane minimum and size(array_intersect)
    # — both order-independent, verified by the unchanged oracle hash).
    def _cal_sketch(batches):
        import numpy as np
        import pyarrow as pa

        p = _CAL_P
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("id")
            thc = batch.column("th")
            offs = thc.offsets.to_numpy(zero_copy_only=False)
            vals = thc.values.to_numpy(zero_copy_only=False)
            starts, ends = offs[:-1], offs[1:]
            ntrip = (ends - starts - 2).astype(np.int64)  # all >= 1 (n >= 3)
            nrows = len(ntrip)
            tot = int(ntrip.sum())
            doc_of = np.repeat(np.arange(nrows, dtype=np.int64), ntrip)
            first = np.zeros(nrows, dtype=np.int64)
            first[1:] = np.cumsum(ntrip)[:-1]
            pos = (np.arange(tot, dtype=np.int64)
                   - np.repeat(first, ntrip)
                   + np.repeat(starts.astype(np.int64), ntrip))
            sh_all = ((vals[pos] * 31 + vals[pos + 1]) * 31
                      + vals[pos + 2]) % p
            # distinct per doc: unique over (doc, shingle) keys — sorted,
            # grouped by doc in ascending doc order
            u = np.unique(doc_of * p + sh_all)
            doc_u = u // p
            sh_u = u % p
            cnt = np.bincount(doc_u, minlength=nrows)
            seg = np.zeros(nrows, dtype=np.int64)
            seg[1:] = np.cumsum(cnt)[:-1]
            sig = np.empty((nrows, _CAL_LANES), dtype=np.int64)
            for i in range(_CAL_LANES):
                sig[:, i] = np.minimum.reduceat(
                    ((2 * i + 1) * sh_u + i * i) % p, seg
                )
            bk = np.empty((nrows, sum(b for b, _ in _CAL_CONFIGS)),
                          dtype=np.int64)
            col = 0
            for bands, rows in _CAL_CONFIGS:
                for b in range(bands):
                    acc = np.zeros(nrows, dtype=np.int64)
                    for k in range(rows):
                        acc = (acc * 131 + sig[:, b * rows + k]) % p
                    bk[:, col] = acc
                    col += 1
            yield pa.record_batch(
                [
                    ids,
                    pa.ListArray.from_arrays(
                        pa.array(np.concatenate(([0], np.cumsum(cnt))),
                                 type=pa.int32()),
                        pa.array(sh_u, type=pa.int64()),
                    ),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(bk.reshape(-1), type=pa.int64()),
                        bk.shape[1],
                    ).cast(pa.list_(pa.int64())),
                ],
                names=["id", "sh", "bk"],
            )

    # ONE checkpoint carrying the shingle sets (the verify's input) and
    # the per-config band buckets; the signature never leaves the kernel.
    base = (
        D.spread(th)
        .where(n >= 3)
        .mapInArrow(_cal_sketch, "id long, sh array<long>, bk array<long>")
        .localCheckpoint(eager=True)
    )
    shs = base.select("id", "sh")

    # ONE banded self-join for all three configurations (round 15): the
    # per-config loop ran three (band, bucket) self-joins, each behind
    # its own eager checkpoint — three blocking driver actions and three
    # shuffles where one suffices (guide §2.4 share one exchange).  The
    # flat bucket position maps back to (cfg, band) by the static config
    # offsets; per-config candidate sets are identical to the per-config
    # joins because cfg is part of the equi-key.
    cfg_expr = None
    band_expr = None
    acc_off = 0
    for ci, (bands, _rws) in enumerate(_CAL_CONFIGS):
        upper = acc_off + bands
        cond = F.col("pos") < upper
        cfg_expr = (
            F.when(cond, F.lit(ci))
            if cfg_expr is None
            else cfg_expr.when(cond, F.lit(ci))
        )
        band_expr = (
            F.when(cond, F.col("pos") - F.lit(acc_off))
            if band_expr is None
            else band_expr.when(cond, F.col("pos") - F.lit(acc_off))
        )
        acc_off = upper
    banded = base.select(
        "id", F.posexplode("bk").alias("pos", "bucket")
    ).select("id", cfg_expr.alias("cfg"), band_expr.alias("band"), "bucket")
    left = banded.select("cfg", "band", "bucket", F.col("id").alias("a"))
    right = banded.select("cfg", "band", "bucket", F.col("id").alias("b"))
    # ONE pooled pair table for candidates AND verification (round 15,
    # guide §2.4): the old shape checkpointed per-config candidates,
    # deduped them AGAIN into the pool, verified the pool behind a
    # second checkpoint, and re-joined cands⨝ver at exec — two barriers,
    # three pair-sized exchanges and an exec join.  One groupBy(a, b)
    # with collect_set(cfg) replaces both dropDuplicates (cfg membership
    # becomes a ≤3-element set column), the verify flag lands on the
    # SAME row, and every count below explodes the one checkpointed
    # (a, b, cfgs, ok) table — per-config counts are identical because
    # cfg ∈ cfgs ⟺ the pair was a cfg candidate, and ver ⊆ pool by
    # construction.
    #
    # The verify only FILTERS at the threshold — the jaccard value is
    # never emitted — and sh sets are distinct, so |union| =
    # |a| + |b| − |inter| and  inter/union ≥ 1/2  ⟺  3·inter ≥ |a|+|b|:
    # one array_intersect per pair instead of intersect + union hash-set
    # builds, and an exact INTEGER comparison instead of a division
    # (the jaccard pass was ~40% of this query's build; the pool is
    # ~162k pairs at sf0.1 because loose banding IS what the calibration
    # prices).  Threshold generalization kept explicit:
    # j ≥ t ⟺ (1+t)·inter ≥ t·(|a|+|b|) with t = 1/2 ⟹ 3·inter ≥ |a|+|b|.
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    pairs = (
        left.join(right, ["cfg", "band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.collect_set("cfg").alias("cfgs"))
    )
    P = (
        pairs.join(
            shs.select(F.col("id").alias("a"), F.col("sh").alias("sh_a")), "a"
        )
        .join(shs.select(F.col("id").alias("b"), F.col("sh").alias("sh_b")), "b")
        .select(
            "a",
            "b",
            "cfgs",
            (3 * inter >= F.size("sh_a") + F.size("sh_b")).alias("ok"),
        )
        .localCheckpoint(eager=True)
    )
    nc = (
        P.select(F.explode("cfgs").alias("cfg"))
        .groupBy("cfg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    )
    nv = (
        P.where("ok")
        .select(F.explode("cfgs").alias("cfg"))
        .groupBy("cfg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
    )
    nver = P.where("ok").agg(
        F.count(F.lit(1)).cast("long").alias("n_ver_total")
    )
    bands_of = {ci: b for ci, (b, _) in enumerate(_CAL_CONFIGS)}
    rows_of = {ci: r for ci, (_, r) in enumerate(_CAL_CONFIGS)}

    def _map_lit(m):
        expr = None
        for k, v in m.items():
            expr = (
                F.when(F.col("cfg") == k, F.lit(v))
                if expr is None
                else expr.when(F.col("cfg") == k, F.lit(v))
            )
        return expr

    return (
        nc.join(nv, "cfg", "left")
        .crossJoin(F.broadcast(nver))
        .select(
            _map_lit(bands_of).cast("int").alias("bands"),
            _map_lit(rows_of).cast("int").alias("rows_per_band"),
            "n_candidates",
            F.coalesce(F.col("n_verified"), F.lit(0)).cast("long")
            .alias("n_verified"),
            (
                F.col("n_ver_total")
                - F.coalesce(F.col("n_verified"), F.lit(0))
            ).cast("long").alias("n_missed"),
        )
    )
