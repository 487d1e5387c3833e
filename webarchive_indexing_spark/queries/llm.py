"""LLM-data-pipeline queries (SURVEY.md §2.11, tier C): dedup (exact /
MinHash / SimHash / n-gram Jaccard), embedding similarity (exact top-k
/ blocked kNN / sign-LSH), text analysis (token stats, quality,
language guess), multimodal plumbing.

The documents table has no duplicates by construction (FIXTURES.md), so
dedup queries derive a ``base`` corpus that injects exact copies
(doc_id+10000) and near-duplicates (doc_id+20000, two extra tokens) —
identically in Spark and in the oracle CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    STOPWORDS,
    bpe_ish_tokens,
    shingles,
    sql_shingles,
    sql_stopword_count,
    sql_token_hash,
    stopword_count,
    token_hash,
    tokens,
)
from ..operators.dedup import (
    A,
    B,
    P,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    simhash16,
    sql_minhash_sig,
    sql_simhash16,
)
from ..operators.similarity import (
    cosine,
    cosine_topk,
    ivf_pq_topk,
    ivf_topk,
    ivf_trained_topk,
    ivfadc_residual_topk,
    ivfadc_trained_topk,
    knn_blocked,
    lsh_buckets,
    pq_adc_topk,
    sql_cosine,
    sql_ivf_pq_topk,
    sql_ivf_topk,
    sql_ivf_trained_topk,
    sql_ivfadc_residual_topk,
    sql_ivfadc_trained_topk,
    sql_ivfpq_refined_int8_topk,
    sql_pq_adc_topk,
    sql_lsh_bucket_expr,
    sql_lsh_buckets,
)
from ..operators.kmeans import kmeans_lloyd, sql_kmeans_lloyd
from ..registry import query
from .helpers import hround, sql_hround, t, widen

BASE_SQL = """
WITH base AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text, lang, source
  FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text || ' zz qq' AS text, lang, source
  FROM documents WHERE doc_id >= 40 AND doc_id < 80
)
"""


def base_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of BASE_SQL: corpus with injected exact + near dups."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    exact = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang", "source"
    )
    near = d.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80)).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz qq")).alias("text"),
        "lang",
        "source",
    )
    # NOT widened here: several consumers filter doc_id right after,
    # and a repartition would block that filter from reaching the scan.
    # Consumers that chew the whole corpus widen themselves.
    return d.unionByName(exact).unionByName(near)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_groups",
    oracle=BASE_SQL + """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM base GROUP BY content_hash HAVING COUNT(*) > 1
    """,
    tier="C",
)
def dedup_exact_groups(spark, sf_dir):
    """L1 exact dedup: digest-groupBy; the shuffle moves 16-byte
    hashes, never documents.  Injected copies must each form one group
    with the original as survivor."""
    base = base_corpus(spark, sf_dir)
    return exact_dedup(base).filter(F.col("n_copies") > 1)


@query(
    "dedup_duplicate_spans",
    oracle=BASE_SQL + f"""
    , toks8 AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM base
      WHERE doc_id < 120 OR doc_id >= 10000
    ), grams AS (
      SELECT doc_id,
             unnest(range(1, len(sh) + 1)) AS pos,
             unnest(list_transform(sh, s -> {sql_token_hash('s')})) AS h
      FROM (SELECT doc_id, {sql_shingles('tk', 8)} AS sh FROM toks8)
    ), dupg AS (
      SELECT h FROM grams GROUP BY h HAVING COUNT(*) > 1
    ), cov AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (h)
    ), marked AS (
      SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL OR pos - LAG(pos) OVER w > 8
                  THEN 1 ELSE 0 END AS ns
      FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), sp AS (
      SELECT doc_id, pos,
             CAST(SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
      FROM marked
    )
    SELECT doc_id, span_id,
           MIN(pos) AS span_start,
           MAX(pos) + 7 AS span_end,
           MAX(pos) + 7 - MIN(pos) + 1 AS n_tokens
    FROM sp GROUP BY doc_id, span_id
    HAVING MAX(pos) + 7 - MIN(pos) + 1 >= 12
    """,
    tier="C",
)
def dedup_duplicate_spans(spark, sf_dir):
    """L1/L5 EXACT duplicate-SPAN detection (the bounded relational
    form of Lee et al. 2022's suffix-array substring dedup): find the
    maximal token spans that occur more than once ANYWHERE in the
    corpus — the spans a substring-level deduper would cut, catching
    boilerplate and quoted passages that whole-doc dedup misses.

    Shape: positional 8-gram rolling hashes (posexplode — the position
    rides along), a gram-frequency semi-join keeps positions covered
    by any repeated gram, and per-doc interval MERGE turns covered
    gram starts into maximal spans — the same sessionize pattern as
    gap-based windows: new-span flag when the gap exceeds the gram
    width, running sum for the span id, one group-by for the extent.
    Spans shorter than 12 tokens are noise-filtered.

    Scale: shuffles carry (doc_id, pos, 8-byte hash) triples, never
    text; the frequency pass partial-aggregates map-side; the merge
    windows partition on doc_id (the natural key).  At 100 TB the
    suffix-array construction this replaces is the intractable part —
    gram-hash cover + interval union is the standard scalable
    approximation (a span is flagged iff all its k-grams repeat,
    exact for spans >= k with no hash collisions)."""
    from pyspark.sql.window import Window

    k = 8
    # widen BEFORE the gram/hash projection: the scan is 1-3 parquet
    # partitions and Catalyst won't push a projection below a
    # repartition, so widening after would leave the dominant
    # posexplode+md5 stage on a few cores (review r6)
    base = widen(
        base_corpus(spark, sf_dir).filter(
            (F.col("doc_id") < 120) | (F.col("doc_id") >= 10000)
        )
    )
    toks = F.split(F.col("text"), " ")
    g = base.select(
        "doc_id", F.posexplode(shingles(toks, k)).alias("pos0", "gram")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        token_hash(F.col("gram")).alias("h"),
    )
    dupg = g.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") > 1
    )
    cov = g.join(dupg.select("h"), "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    ns = F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
    sp = cov.withColumn(
        "span_id",
        F.sum(ns).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sp.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .withColumn(
            "n_tokens", F.col("span_end") - F.col("span_start") + F.lit(1)
        )
        .filter(F.col("n_tokens") >= 12)
    )


@query(
    "dedup_paragraph_chunks",
    oracle=BASE_SQL + """
    , toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM base WHERE doc_id < 500 OR doc_id >= 10000
    ), chunks AS (
      SELECT doc_id, i AS idx,
             array_to_string(t[i * 20 + 1 : i * 20 + 20], ' ') AS chunk
      FROM toks,
           unnest(generate_series(0, CAST(ceil(len(t) / 20.0) AS INT) - 1)) AS u(i)
    ), firsts AS (
      SELECT md5(chunk) AS h, MIN(doc_id * 1000000 + idx) AS first_key
      FROM chunks GROUP BY h
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN c.doc_id * 1000000 + c.idx = f.first_key
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           string_agg(CASE WHEN c.doc_id * 1000000 + c.idx = f.first_key
                           THEN c.chunk END, ' ' ORDER BY c.idx) AS dedup_text
    FROM chunks c JOIN firsts f ON md5(c.chunk) = f.h
    GROUP BY c.doc_id
    """,
    tier="C",
)
def dedup_paragraph_chunks(spark, sf_dir):
    """L1/L2 paragraph-level dedup (the RefinedWeb/FineWeb pass that
    removes repeated boilerplate paragraphs ACROSS documents while
    keeping the documents themselves): explode each doc into 20-token
    chunks (the fixture's stand-in for \\n\\n paragraphs), keep only
    each chunk's globally FIRST occurrence (min (doc_id, idx)), and
    reassemble the surviving text per document in original order.

    Scale shape: the first-occurrence resolution shuffles one 16-byte
    md5 + one packed bigint per chunk — never the chunk text; the
    join back to full chunks is on the same hash key, so AQE plans a
    co-partitioned SMJ with no extra exchange on the big side; the
    reassembly is one groupBy(doc_id) with an array_sort (chunks per
    doc are bounded, so collect_list is bounded).  Injected exact-dup
    docs (BASE_SQL +10000) come out with n_kept = 0 — fully deduped —
    and NULL dedup_text, matching SQL string_agg-over-no-rows."""
    doc = F.col("doc_id")
    base = base_corpus(spark, sf_dir).filter((doc < 500) | (doc >= 10000))
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(20.0)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * 20 + 1, 20), " "),
    )
    chunks = base.select(doc, F.posexplode(chunk_arr).alias("idx", "chunk"))
    keyed = chunks.select(
        "doc_id",
        "idx",
        "chunk",
        F.md5("chunk").alias("h"),
        (doc * 1000000 + F.col("idx")).alias("k"),
    )
    firsts = keyed.groupBy("h").agg(F.min("k").alias("first_key"))
    j = keyed.join(firsts, "h")
    kept = F.col("k") == F.col("first_key")
    kept_sorted = F.array_sort(
        F.collect_list(F.when(kept, F.struct("idx", "chunk")))
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.when(
            F.sum(kept.cast("int")) > 0,
            F.array_join(
                F.transform(kept_sorted, lambda s: s["chunk"]), " "
            ),
        ).alias("dedup_text"),
    )


@query(
    "dedup_minhash_signatures",
    oracle=BASE_SQL + f"""
    SELECT doc_id,
           {sql_minhash_sig(sql_shingles("string_split(text, ' ')"), 0)} AS sig_0,
           {sql_minhash_sig(sql_shingles("string_split(text, ' ')"), 1)} AS sig_1,
           {sql_minhash_sig(sql_shingles("string_split(text, ' ')"), 2)} AS sig_2,
           {sql_minhash_sig(sql_shingles("string_split(text, ' ')"), 3)} AS sig_3
    FROM base WHERE doc_id < 200 OR doc_id >= 20000
    """,
    tier="C",
)
def dedup_minhash_signatures(spark, sf_dir):
    """L2 MinHash signatures (4 perms over word-3-shingles) — map-only,
    no shuffle; the md5-seeded hash keeps it oracle-checkable (a prod
    deployment swaps in xxhash64 at functions.text.token_hash).

    The md5 shingle hash is projected ONCE into its own column and the
    four permutations read the pre-hashed array — inlining
    ``minhash_signature(sh, 4)`` directly would duplicate the md5
    transform subtree per permutation (codegen subexpression
    elimination skips higher-order functions), quadrupling the
    dominant cost; the scale sniff showed 30x at 3x rows before this
    split.  Values are identical: min is duplicate-insensitive and the
    hash is applied exactly once either way."""
    base = base_corpus(spark, sf_dir).filter(
        (F.col("doc_id") < 200) | (F.col("doc_id") >= 20000)
    )
    hashed = base.select(
        "doc_id", F.transform(shingles(tokens(F.col("text"))), token_hash).alias("hs")
    )
    return hashed.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(F.col("hs"), lambda s: (F.lit(A[j]) * s + F.lit(B[j])) % F.lit(P))
            ).alias(f"sig_{j}")
            for j in range(4)
        ],
    )


@query(
    "dedup_simhash",
    oracle=BASE_SQL + sql_simhash16("doc_id", "(SELECT * FROM base WHERE doc_id < 100 OR doc_id >= 20000)"),
    tier="C",
)
def dedup_simhash(spark, sf_dir):
    """L2 SimHash (16-bit signed-vote fingerprint): near-identical docs
    land at small Hamming distance; exact copies collide exactly."""
    base = base_corpus(spark, sf_dir).filter(
        (F.col("doc_id") < 100) | (F.col("doc_id") >= 20000)
    )
    return simhash16(base)


#: relational n-gram-Jaccard pair stage as oracle-SQL CTEs: appended
#: after BASE_SQL, defines ``jpairs(a_id, b_id, i, un)`` = pairs with
#: 10·|∩| ≥ 7·|∪| (integer cross-multiplied threshold — no float
#: compare).  Shared by dedup_ngram_jaccard and dedup_cluster_cc.
#: document-frequency cap: shingles appearing in more than MAX_DF docs
#: (within a source block) are boilerplate — each contributes O(df²)
#: join rows, the quadratic blowup at corpus scale.  Dropped from BOTH
#: sets before sizing, so the Jaccard is over capped sets (consistent,
#: and mirrored exactly in the oracle).
JACCARD_MAX_DF = 100

JACCARD_PAIRS_SQL = f"""
    , sh0 AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               {sql_shingles("string_split(text, ' ')")},
               s -> {sql_token_hash('s')}))) AS s
      FROM base
    ), sh AS (
      SELECT doc_id, source, s FROM (
        SELECT doc_id, source, s,
               COUNT(*) OVER (PARTITION BY source, s) AS df
        FROM sh0
      ) WHERE df <= {JACCARD_MAX_DF}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a_id, b_id
    ), jpairs AS (
      SELECT a_id, b_id, i, sa.n + sb.n - i AS un
      FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE 10 * i >= 7 * (sa.n + sb.n - i)
    )
"""


def ngram_jaccard_pairs(base: DataFrame, max_df: int = JACCARD_MAX_DF) -> DataFrame:
    """Spark twin of JACCARD_PAIRS_SQL: (a_id, b_id, i, un) near-dup
    pairs at Jaccard ≥ 0.7 over word-3-shingles, blocked by source.

    Distinct shingles exploded → df-cap → equi-join on (shingle,
    source) → exact |∩| counts → integer cross-multiplied threshold.
    The shared-shingle join IS the blocking.  Shingles ship as 32-bit
    md5-derived hashes, not strings — the shuffle moves 8-byte keys and
    any hash collision is identical in both engines (same hash fn), so
    oracles still match bit-for-bit.

    The df-cap drops shingles present in more than ``max_df`` documents
    of a source block BEFORE the self-join: a shingle shared by k docs
    yields k² join rows, so boilerplate (headers, license text) is a
    quadratic blowup at corpus scale.  Capped sets feed both |∩| and
    the sizes, keeping the Jaccard internally consistent and in
    lockstep with the oracle."""
    sh = base.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(F.transform(shingles(tokens(F.col("text"))), token_hash))
        ).alias("s"),
    )
    sh = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("source", "s")))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    # |shingles(doc)| rides along as a window count instead of a
    # separate aggregate: both join sides then share an IDENTICAL
    # explode→df-cap→exchange(doc_id)→window subtree, so Spark's
    # ReuseExchange computes the (CPU-heavy) shingle explode once, and
    # the two post-hoc size joins disappear entirely.
    shn = sh.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    a = shn.alias("a")
    b = shn.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    un = F.col("na") + F.col("nb") - F.col("i")
    return inter.filter(10 * F.col("i") >= 7 * un).select(
        "a_id", "b_id", "i", un.alias("un")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=BASE_SQL + JACCARD_PAIRS_SQL + f"""
    SELECT a_id, b_id, {sql_hround('i * 1.0 / un', 4)} AS jaccard FROM jpairs
    """,
    tier="C",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """L4 n-gram Jaccard similarity join — see ngram_jaccard_pairs for
    the plan shape (shared with dedup_cluster_cc)."""
    # whole-corpus shingle explode: CPU-bound, no downstream pushdown
    # to lose — widening to all cores is a pure win here
    pairs = ngram_jaccard_pairs(widen(base_corpus(spark, sf_dir)))
    return pairs.select(
        "a_id",
        "b_id",
        hround(F.col("i") * F.lit(1.0) / F.col("un"), 4).alias("jaccard"),
    )


@query(
    "dedup_cluster_cc",
    oracle=(BASE_SQL + JACCARD_PAIRS_SQL).replace("WITH ", "WITH RECURSIVE ", 1) + """
    , cedges AS (
      SELECT a_id AS u, b_id AS v FROM jpairs
      UNION
      SELECT b_id AS u, a_id AS v FROM jpairs
    ), walk(node, comp) AS (
      SELECT u, u FROM cedges
      UNION
      SELECT e.u, w.comp FROM cedges e JOIN walk w ON w.node = e.v
    ), labels AS (
      SELECT node, MIN(comp) AS comp FROM walk GROUP BY node
    )
    SELECT node AS doc_id, comp AS cluster_id,
           COUNT(*) OVER (PARTITION BY comp) AS cluster_size,
           (node = comp) AS is_canonical
    FROM labels
    """,
    tier="C",
)
def dedup_cluster_cc(spark, sf_dir):
    """L2/L4 duplicate-cluster assembly: near-dup PAIRS (n-gram Jaccard
    ≥ 0.7) → transitive CLUSTERS via alternating large-star/small-star
    connected components (operators/cc.py), then per-cluster size and
    the min-id canonical survivor — the keep/drop decision a training
    pipeline executes after any pairwise dedup stage.

    The oracle computes the same closure as a DuckDB recursive CTE
    (min reachable id); the Spark side is the O(log d)-round star
    contraction that survives 100 TB graphs."""
    from ..operators.cc import connected_components

    pairs = ngram_jaccard_pairs(widen(base_corpus(spark, sf_dir)))
    comp = connected_components(pairs, src="a_id", dst="b_id")
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )


@query(
    "training_order_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS train_pos
    FROM documents
    """,
    tier="C",
)
def training_order_shuffle(spark, sf_dir):
    """Deterministic seeded corpus shuffle — the reproducible
    training-order step every pretraining run needs (the same seed
    must yield the same order on any cluster, any partitioning, any
    engine): order by ``md5(seed || doc_id)`` with doc_id as the
    total tiebreak, positions assigned by the TWO-PASS global rank
    (range shuffle + per-partition offsets — no single-partition
    window, the thing that dies first at 100 TB).  A new seed is a
    new literal — reshuffling between epochs costs one pass, no data
    rewrite.  The hash pins the exact permutation both engines
    derive."""
    from ..operators.global_rank import global_row_number

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string"))).alias(
            "__k"
        ),
    )
    ranked = global_row_number(d, ["__k", "doc_id"], rank_col="train_pos")
    return ranked.select(
        "doc_id", F.col("train_pos").cast("bigint").alias("train_pos")
    )


@query(
    "dedup_keep_best_per_cluster",
    oracle=(BASE_SQL + JACCARD_PAIRS_SQL).replace("WITH ", "WITH RECURSIVE ", 1) + """
    , cedges AS (
      SELECT a_id AS u, b_id AS v FROM jpairs
      UNION
      SELECT b_id AS u, a_id AS v FROM jpairs
    ), walk(node, comp) AS (
      SELECT u, u FROM cedges
      UNION
      SELECT e.u, w.comp FROM cedges e JOIN walk w ON w.node = e.v
    ), labels AS (
      SELECT node, MIN(comp) AS comp FROM walk GROUP BY node
    ), members AS (
      SELECT l.node AS doc_id, l.comp, length(b.text) AS n_chars
      FROM labels l JOIN base b ON b.doc_id = l.node
    ), rankedm AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY comp ORDER BY n_chars DESC, doc_id ASC
             ) AS rk,
             COUNT(*) OVER (PARTITION BY comp) AS csize
      FROM members
    )
    SELECT comp AS cluster_id, doc_id AS kept_doc,
           CAST(csize AS BIGINT) AS cluster_size,
           CAST(n_chars AS BIGINT) AS kept_chars
    FROM rankedm WHERE rk = 1
    """,
    tier="C",
)
def dedup_keep_best_per_cluster(spark, sf_dir):
    """L2/L4 canonical-document SELECTION — the decision step after
    cluster assembly that real pipelines run INSTEAD of min-id
    keep-first: within each near-dup cluster keep the highest-quality
    member (here: longest text, doc_id ties ascending — a trained
    quality score drops into the same ORDER BY slot), emitting the
    keep-list a corpus rewrite consumes.  Docs outside any cluster
    survive by default (they never reach the pair stage).

    Composition: n-gram-Jaccard pairs → large-star/small-star CC →
    one metadata join (cluster membership is pair-derived, orders of
    magnitude smaller than the corpus) → one per-cluster window.  The
    oracle recomputes the closure as a recursive CTE and the same
    argmax relationally."""
    from ..operators.cc import connected_components

    base = base_corpus(spark, sf_dir)
    pairs = ngram_jaccard_pairs(widen(base))
    comp = connected_components(pairs, src="a_id", dst="b_id")
    members = comp.join(
        base.select("doc_id", F.length("text").alias("n_chars")),
        comp["node"] == F.col("doc_id"),
    ).select("doc_id", "comp", "n_chars")
    w = Window.partitionBy("comp")
    ranked = members.withColumn(
        "rk",
        F.row_number().over(
            w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        ),
    ).withColumn("csize", F.count(F.lit(1)).over(w))
    return ranked.filter(F.col("rk") == 1).select(
        F.col("comp").alias("cluster_id"),
        F.col("doc_id").alias("kept_doc"),
        F.col("csize").cast("bigint").alias("cluster_size"),
        F.col("n_chars").cast("bigint").alias("kept_chars"),
    )


@query(
    "dedup_rate_by_source",
    oracle=BASE_SQL + """
    , g AS (
      SELECT doc_id, source,
             COUNT(*) OVER (PARTITION BY md5(text)) AS gsize
      FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN gsize > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicated,
           CAST(SUM(CASE WHEN gsize > 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 10000 // COUNT(*) AS dup_bp
    FROM g GROUP BY source
    """,
    tier="C",
)
def dedup_rate_by_source(spark, sf_dir):
    """Corpus-health dashboard metric: per source, how much of the
    corpus sits inside exact-duplicate groups (count + basis points,
    integer division so the rate is engine-exact) — the number a
    curation team watches per crawl to catch a scraper feeding the
    pipeline the same site twice.  One window over md5(text) — the
    hash is the partition key, raw text never crosses the exchange —
    then a per-source rollup."""
    base = base_corpus(spark, sf_dir)
    g = base.select(
        "doc_id",
        "source",
        F.count(F.lit(1))
        .over(Window.partitionBy(F.md5("text")))
        .alias("gsize"),
    )
    dup = F.sum(F.when(F.col("gsize") > 1, 1).otherwise(0)).cast("bigint")
    return g.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dup.alias("n_duplicated"),
        F.expr(
            "CAST(sum(CASE WHEN gsize > 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "* 10000 DIV count(1)"
        ).alias("dup_bp"),
    )


@query(
    "decontaminate_canary_scan",
    oracle=BASE_SQL + """
    , canaries AS (
      SELECT doc_id AS canary_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
               AS canary
      FROM documents
      WHERE doc_id % 97 = 5 AND len(string_split(text, ' ')) >= 8
    )
    SELECT d.doc_id, c.canary_id
    FROM base d JOIN canaries c ON contains(d.text, c.canary)
    """,
    tier="C",
)
def decontaminate_canary_scan(spark, sf_dir):
    """Canary contamination audit [north-star: memorization canaries,
    Carlini et al. — every serious pretraining run scans its corpus
    for planted/benchmark strings before AND after training]: a
    metadata-sized canary list (here the first 8 tokens of every
    97th document — the 'eval set leaked into the corpus' shape)
    broadcast against the full dedup-injected corpus as a substring
    scan; each canary must surface its source doc AND the injected
    exact duplicates.

    Scale design: the canary table is a broadcast literal (audits are
    thousands of strings, not millions); the scan is one corpus pass
    with k ``contains`` probes per row fused into the scan via a
    BroadcastNestedLoopJoin — no shuffle touches text.  (At very
    large k the same slot takes an Aho-Corasick pandas stage; the
    JOIN SHAPE is what scales.)"""
    d = t(spark, sf_dir, "documents")
    canaries = d.filter(
        (F.col("doc_id") % 97 == 5) & (F.size(tokens(F.col("text"))) >= 8)
    ).select(
        F.col("doc_id").alias("canary_id"),
        F.array_join(F.slice(tokens(F.col("text")), 1, 8), " ").alias("canary"),
    )
    base = base_corpus(spark, sf_dir)
    return base.join(
        F.broadcast(canaries), F.col("text").contains(F.col("canary"))
    ).select("doc_id", "canary_id")


#: semantic-decontamination geometry: benchmark set = the first 8
#: vectors; a document is contaminated when its max cosine to any
#: benchmark item is ≥ τ (0.30 ≈ the corpus's 90th percentile — the
#: near-duplicate-in-embedding-space band).
_SEMDECON_BENCH = 8
_SEMDECON_TAU = 0.30


def _semdecon_sql() -> str:
    sim = sql_hround(sql_cosine("e.embedding", "b.bvec", 64), 6)
    return f"""
    WITH bench AS (
      SELECT vec_id AS bid, embedding AS bvec FROM embeddings
      WHERE vec_id < {_SEMDECON_BENCH}
    ),
    scored AS (
      SELECT e.vec_id, b.bid, {sim} AS sim,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {sim} DESC, b.bid ASC) AS rn
      FROM embeddings e CROSS JOIN bench b
      WHERE e.vec_id >= {_SEMDECON_BENCH}
    )
    SELECT vec_id, bid AS best_bench, sim AS max_sim,
           sim >= {_SEMDECON_TAU} AS contaminated
    FROM scored WHERE rn = 1
    """


@query("decontaminate_semantic", oracle=_semdecon_sql(), tier="C")
def decontaminate_semantic(spark, sf_dir):
    """SEMANTIC decontamination (round 10) [north-star: embedding-
    space eval-set screening — exact-match and n-gram scans
    (``decontaminate_canary_scan``/``_ngram_overlap``) miss
    paraphrased benchmark leakage, so labs additionally flag corpus
    items whose embedding sits too close to any eval item]: the
    benchmark set (first 8 vectors) collects to DRIVER LITERALS like
    an IVF quantizer, every corpus vector computes its max cosine +
    argmax benchmark id MAP-SIDE (one array_max over 8 inlined
    6dp-rounded cosines — no join, no shuffle, plan-asserted), and
    ``contaminated = max_sim ≥ τ`` with τ at the corpus's ~90th
    percentile.  At 100 TB: eval sets are thousands of vectors — the
    same broadcast-literal slot; past that, the LSH/IVF blocking
    already in this module takes over.  The oracle re-ranks the
    cross join relationally."""
    emb = t(spark, sf_dir, "embeddings")
    # ONE collect for the whole benchmark set (a model artifact), and
    # the scoring expression built as ONE SQL string — Column-by-Column
    # construction of 8×64-literal cosines measured ~2 s of pure py4j
    # round-trips per query call (the lloyd_train lesson)
    rows = (
        emb.filter(F.col("vec_id") < _SEMDECON_BENCH)
        .select("vec_id", "embedding")
        .collect()
    )
    bench = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    )

    def dec_dot(a: str, b: str) -> str:
        # mirrors similarity._dec_dot: per-term double product cast to
        # DECIMAL(28,14), exact decimal fold
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))), "
            f"CAST(0 AS DECIMAL(28,14)), "
            f"(acc, x) -> CAST(acc + x AS DECIMAL(28,14)))"
        )

    def py_dec_norm(v: list[float]) -> float:
        # driver twin of sqrt(CAST(dec_dot(b, b) AS DOUBLE)): Spark's
        # double→DECIMAL(28,14) cast goes through the shortest
        # round-trip string + HALF_UP at 14 dp (BigDecimal.valueOf),
        # which Decimal(repr(x)).quantize reproduces exactly
        import decimal
        import math

        q = decimal.Decimal("1e-14")
        s = sum(
            (
                decimal.Decimal(repr(x * x)).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
                for x in v
            ),
            decimal.Decimal(0),
        )
        return math.sqrt(float(s))

    structs = []
    for bid, bv in bench:
        arr = "array(" + ",".join(f"{float(v)!r}D" for v in bv) + ")"
        cos = (
            f"CAST({dec_dot('embedding', arr)} AS DOUBLE) / "
            f"(__nrm * {py_dec_norm(bv)!r}D)"
        )
        sim = (
            f"CAST(FLOOR(({cos}) * 1000000.0 + 0.5) AS DOUBLE) "
            f"/ CAST(1000000.0 AS DOUBLE)"
        )
        structs.append(f"named_struct('s', {sim}, 'negid', {-bid})")
    best = f"array_max(array({', '.join(structs)}))"
    nrm = f"sqrt(CAST({dec_dot('embedding', 'embedding')} AS DOUBLE))"
    return (
        emb.filter(F.col("vec_id") >= _SEMDECON_BENCH)
        .selectExpr("vec_id", "embedding", f"{nrm} AS __nrm")
        .selectExpr("vec_id", f"{best} AS __best")
        .selectExpr(
            "vec_id",
            "-(__best.negid) AS best_bench",
            "__best.s AS max_sim",
            f"__best.s >= CAST({_SEMDECON_TAU} AS DOUBLE) AS contaminated",
        )
    )


def _sql_lsh_pairs_oracle() -> str:
    """DuckDB twin of minhash_lsh_pairs (8 perms, 4 bands of 2,
    verify at Jaccard ≥ 0.7): signatures over the SAME pre-hashed
    distinct shingles, the same band keys (sig pairs joined by '_'),
    distinct candidate pairs, exact hashed-shingle Jaccard."""
    shingle_set = (
        "list_distinct(list_transform("
        + sql_shingles("string_split(text, ' ')")
        + f", s -> {sql_token_hash('s')}))"
    )
    sig = lambda j: (  # noqa: E731
        f"list_aggregate(list_transform(sh, s -> ({A[j]} * s + {B[j]}) % {P}), 'min')"
    )
    sig_cols = ",\n           ".join(f"{sig(j)} AS sig_{j}" for j in range(8))
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT id, {b} AS band, CAST(sig_{2 * b} AS VARCHAR) || '_' || "
        f"CAST(sig_{2 * b + 1} AS VARCHAR) AS key FROM sigs"
        for b in range(4)
    )
    return f"""
    , docs0 AS (
      SELECT doc_id AS id, {shingle_set} AS sh FROM base
    ), d AS (
      SELECT * FROM docs0 WHERE len(sh) > 0
    ), sigs AS (
      SELECT id,
           {sig_cols}
      FROM d
    ), banded AS (
      {bands}
    ), cand AS (
      SELECT DISTINCT a.id AS a_id, b.id AS b_id
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id
    ), verif AS (
      SELECT a_id, b_id,
             len(list_intersect(da.sh, db.sh)) AS i,
             len(da.sh) + len(db.sh) AS ns
      FROM cand
      JOIN d da ON da.id = cand.a_id
      JOIN d db ON db.id = cand.b_id
    )
    SELECT a_id, b_id, {sql_hround('i * 1.0 / (ns - i)', 4)} AS jaccard
    FROM verif WHERE i * 1.0 / (ns - i) >= 0.7
    """


@query(
    "dedup_minhash_lsh_pairs",
    oracle=BASE_SQL + _sql_lsh_pairs_oracle(),
    tier="C",
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    """L2 end-to-end MinHash-LSH near-dup pairs (8 perms, 4 bands,
    verify at Jaccard ≥ 0.7).  Recall vs. the exact Jaccard join is
    asserted in tests/test_dedup.py; the oracle mirrors the banding
    bit-for-bit (same md5-seeded hashes on both engines)."""
    # whole-corpus shingle explode feeds the checkpoint — widen first
    # (base_corpus scans as ~3 partitions; see dedup_ngram_jaccard)
    pairs = minhash_lsh_pairs(widen(base_corpus(spark, sf_dir)))
    return pairs.select(
        "a_id", "b_id", hround(F.col("jaccard"), 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------


@query(
    "emb_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           {sql_hround(sql_cosine('embedding', 'qv'), 6)} AS cos_sim
    FROM embeddings, q WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 20
    """,
    tier="C",
)
def emb_cosine_topk(spark, sf_dir):
    """L3 exact cosine top-k against vec 0: broadcast query vector,
    map-only scoring in codegen (zip_with/aggregate), TakeOrdered k —
    the zero-shuffle brute-force ANN baseline."""
    return cosine_topk(t(spark, sf_dir, "embeddings"), query_vec_id=0, k=20)


@query(
    "emb_knn_blocked",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             {sql_hround(sql_cosine('a.embedding', 'b.embedding'), 6)} AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE a.label < 3
    )
    SELECT a_id, b_id, cos_sim, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                   ORDER BY cos_sim DESC, b_id) AS rn
      FROM pairs
    ) WHERE rn <= 3
    """,
    tier="C",
)
def emb_knn_blocked(spark, sf_dir):
    """L3/L4 IVF-shaped kNN: exact top-3 within each label block —
    the equi-join on the coarse key bounds fan-out (vs all-pairs)."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("label") < 3)
    return knn_blocked(e, k=3)


@query(
    "emb_lsh_buckets",
    oracle=sql_lsh_buckets(8, 64),
    tier="C",
)
def emb_lsh_buckets(spark, sf_dir):
    """L3 sign-LSH (random hyperplane) bucket assignment — the scale
    path for pairwise similarity: map-only bucket ids that become the
    shuffle key of a bucketed pair stage; md5-seeded ±1 planes make the
    buckets engine-independent.  The small embeddings file scans as ONE
    partition while the 8×64 decimal fold dominates — widened so the
    plane math uses every core (unfiltered scan: no pushdown to lose)."""
    return lsh_buckets(widen(t(spark, sf_dir, "embeddings")), n_planes=8, dim=64)


@query(
    "emb_lsh_join",
    oracle=f"""
    WITH bk AS (
      SELECT vec_id, embedding,
             {sql_lsh_bucket_expr('embedding')} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {sql_hround(sql_cosine('a.embedding', 'b.embedding'), 6)} AS cos_sim
    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ORDER BY cos_sim DESC, a_id ASC, b_id ASC LIMIT 20
    """,
    tier="C",
)
def emb_lsh_join(spark, sf_dir):
    """L4 LSH-bucketed similarity join — the scale path emb_lsh_buckets
    exists to feed: bucket assignment is a map-only projection, the
    self-join shuffles on the 8-bit bucket id (density 1/2⁸ of the
    all-pairs cross join), and only intra-bucket pairs are scored.
    Ranked top-20 output keeps the check value-bearing on corpora with
    no near-identical pairs; a production dedup swaps the rank for a
    cosine threshold and unions several plane sets to recover the
    LSH recall loss."""
    from ..operators.similarity import blocked_pairs, cosine_from_parts, lsh_bucket_sql

    e = widen(t(spark, sf_dir, "embeddings"))
    withb = e.withColumn("bucket", F.expr(lsh_bucket_sql("embedding")))
    pairs = blocked_pairs(withb, block_col="bucket", ordered=True)
    sim = hround(
        cosine_from_parts(F.col("a_v"), F.col("b_v"), F.col("a_nrm"), F.col("b_nrm")), 6
    )
    return (
        pairs.select("a_id", "b_id", sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("a_id").asc(), F.col("b_id").asc())
        .limit(20)
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {sql_hround(sql_cosine('a.embedding', 'b.embedding'), 6)} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_hround(sql_cosine('a.embedding', 'b.embedding'), 6)} >= 0.99
    """,
    tier="C",
)
def dedup_embedding_cosine(spark, sf_dir):
    """L2/L4 embedding-cosine near-dup pairs: same blocked equi-join as
    the kNN variant but thresholded (cos ≥ 0.99) instead of ranked —
    the semantic-dedup shape a training pipeline runs after minhash.
    The label block bounds the pair fan-out; at 100 TB the block key
    comes from LSH buckets (emb_lsh_buckets) instead of labels."""
    from ..operators.similarity import blocked_pairs, cosine_from_parts

    pairs = blocked_pairs(t(spark, sf_dir, "embeddings"), ordered=True)
    sim = hround(
        cosine_from_parts(F.col("a_v"), F.col("b_v"), F.col("a_nrm"), F.col("b_nrm")), 6
    )
    return (
        pairs.select("a_id", "b_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.99)
    )


@query(
    "semdedup_keep_list",
    oracle=f"""
    WITH RECURSIVE ebase AS (
      SELECT vec_id, label, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, label, embedding
      FROM embeddings WHERE vec_id < 50
    ), pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM ebase a JOIN ebase b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {sql_hround(sql_cosine('a.embedding', 'b.embedding'), 6)} >= 0.99
    ), cedges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id AS u, a_id AS v FROM pairs
    ), walk(node, comp) AS (
      SELECT u, u FROM cedges
      UNION
      SELECT e.u, w.comp FROM cedges e JOIN walk w ON w.node = e.v
    ), labels AS (
      SELECT node, MIN(comp) AS comp FROM walk GROUP BY node
    )
    SELECT e.vec_id, COALESCE(l.comp, e.vec_id) AS cluster_id,
           (COALESCE(l.comp, e.vec_id) = e.vec_id) AS keep
    FROM ebase e LEFT JOIN labels l ON l.node = e.vec_id
    """,
    tier="C",
)
def semdedup_keep_list(spark, sf_dir):
    """Semantic-dedup decision table (the SemDeDup shape): cosine ≥
    0.99 pairs within coarse blocks → connected components → keep the
    minimum-id member of every semantic cluster, everything else is
    dropped.  The synthetic embeddings carry no natural near-dups
    (max blocked cosine ≈ 0.47), so exact duplicates are injected
    (vec_id+10000), mirroring the text corpus's BASE_SQL convention.

    Scale shape: label blocks refined by the LOSSLESS ε-join grid
    (similarity.grid_blocked_pairs — candidate pairs bounded by
    threshold-sized grid cells, not by block size; the 10× scaling
    sniff measured the plain label-blocked join at 82× time for 10×
    rows, the grid refinement restores ~linear), then the O(log d)
    star-contraction CC, and a left-anti-free labeling — the keep
    verdict is pure (node == comp).  The grid provably drops no
    cosine ≥ 0.99 pair, so the oracle — all in-label pairs — is
    unchanged."""
    from ..operators.cc import connected_components
    from ..operators.similarity import cosine_from_parts, grid_blocked_pairs

    e = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    dup = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "label", "embedding"
    )
    ebase = e.unionByName(dup)
    pairs = grid_blocked_pairs(ebase, 0.99)
    # filter-verify: a plain-double cosine prunes the blocked pairs
    # first (whole-stage codegen, ~free), the decimal-exact cosine —
    # the engine-deterministic one the verdict uses — runs only on
    # survivors.  The 1e-6 margin dwarfs double's ~1e-13 relative
    # error on 64-dim dots, so no true >= 0.99 pair can be pruned;
    # the DECISION value is still the exact score on both engines.
    approx = F.aggregate(
        F.zip_with(
            F.col("a_v"), F.col("b_v"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    ) / (F.col("a_nrm") * F.col("b_nrm"))
    sim = hround(
        cosine_from_parts(F.col("a_v"), F.col("b_v"), F.col("a_nrm"), F.col("b_nrm")), 6
    )
    edges = (
        pairs.filter(approx >= 0.99 - 1e-6)
        .select("a_id", "b_id", sim.alias("s"))
        .filter(F.col("s") >= 0.99)
    )
    comp = connected_components(
        edges, src="a_id", dst="b_id",
        nodes=ebase.select("vec_id"), node_col="vec_id",
    )
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


@query(
    "emb_quantize_int8",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings
    )
    SELECT e.vec_id,
           CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) / q.scale * 127 + 0.5) AS BIGINT)) AS BIGINT) AS q_sum,
           CAST(MIN(CAST(FLOOR(CAST(x AS DOUBLE) / q.scale * 127 + 0.5) AS BIGINT)) AS BIGINT) AS q_min,
           CAST(MAX(CAST(FLOOR(CAST(x AS DOUBLE) / q.scale * 127 + 0.5) AS BIGINT)) AS BIGINT) AS q_max
    FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) e
    JOIN q ON q.vec_id = e.vec_id
    GROUP BY e.vec_id
    """,
    tier="C",
)
def emb_quantize_int8(spark, sf_dir):
    """Symmetric int8 embedding quantization (the memory-footprint
    trick that makes 100 TB of vectors RAM-resident for ANN): per
    vector, scale = max |x|, q_i = floor(x_i/scale*127 + 0.5).  The
    floor(+0.5) form is used instead of round() because the engines
    disagree on banker's-vs-half-away rounding; floor is IEEE-exact in
    both.  Map-only (no shuffle for the quantization itself); the
    checksum aggregates here exist to hash-check every quantized value
    through the oracle without emitting 64 columns."""
    e = t(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xd, F.abs))
    out = e.select("vec_id", xd.alias("_xd"), scale.alias("_scale")).select(
        "vec_id",
        F.transform(
            F.col("_xd"),
            lambda x: F.floor(x / F.col("_scale") * 127 + F.lit(0.5)).cast("bigint"),
        ).alias("_q"),
    )
    return out.select(
        "vec_id",
        F.aggregate(F.col("_q"), F.lit(0).cast("bigint"), lambda a, b: a + b).alias("q_sum"),
        F.array_min(F.col("_q")).alias("q_min"),
        F.array_max(F.col("_q")).alias("q_max"),
    )


@query(
    "emb_ivf_topk",
    oracle=sql_ivf_topk(query_vec_id=123, k=10, n_cents=16, nprobe=2),
    tier="C",
)
def emb_ivf_topk(spark, sf_dir):
    """L3 IVF ANN, the scale path past brute force: vectors are
    coarse-quantized to their nearest of 16 centroid cells by a
    map-only inlined-literal argmax (the quantizer is a collected
    model artifact, not data), the probe prunes to the 2 cells nearest
    the query, and exact cosine top-k runs on the survivors — one
    scan, zero shuffles, ~7/8 of the data never scored."""
    return ivf_topk(
        t(spark, sf_dir, "embeddings"), query_vec_id=123, k=10, n_cents=16, nprobe=2
    )


@query(
    "emb_pq_adc_topk",
    oracle=sql_pq_adc_topk(query_vec_id=77, k=10, n_sub=4, k_codes=8),
    tier="C",
)
def emb_pq_adc_topk(spark, sf_dir):
    """L3 product-quantization ANN (Jégou et al. 2011): vectors are
    encoded as 4 sub-codebook ids (3 bits each here; a byte each in
    production) by a map-only inlined-literal argmin per subspace, and
    candidates are ranked by asymmetric distance — the sum of
    precomputed query→sub-centroid distances looked up by code.  At
    100 TB this is the representation that makes the vector corpus
    RAM-resident (dim×4 bytes → n_sub bytes per vector) while the
    scan stays exact-decimal deterministic; one scan, zero shuffles,
    TakeOrderedAndProject to the driver (plan-asserted)."""
    return pq_adc_topk(
        t(spark, sf_dir, "embeddings"), query_vec_id=77, k=10, n_sub=4, k_codes=8
    )


@query(
    "emb_ivf_pq_topk",
    oracle=sql_ivf_pq_topk(query_vec_id=55, k=10, n_cells=16, nprobe=4),
    tier="C",
)
def emb_ivf_pq_topk(spark, sf_dir):
    """L3 IVF+PQ composed (the FAISS IVFADC layout, flat-PQ variant):
    coarse cells prune the scan to 4 of 16 cells nearest the query,
    PQ asymmetric distance ranks the survivors from 3-bit codes and a
    literal lookup table — rows touched bounded by the probe, bytes
    per row bounded by the code width, zero shuffles, exact-decimal
    deterministic ADC sums."""
    return ivf_pq_topk(
        t(spark, sf_dir, "embeddings"), query_vec_id=55, k=10, n_cells=16, nprobe=4
    )


@query(
    "emb_kmeans_lloyd",
    oracle=sql_kmeans_lloyd(k=8, iters=2),
    tier="C",
)
def emb_kmeans_lloyd(spark, sf_dir):
    """Iterative k-means (Lloyd) over the embeddings table — the
    trainer for the IVF/PQ quantizers: two iterations of map-only
    assignment against inlined-literal centroids plus a centroid
    update whose exchange carries k×64 decimal partial sums (not
    vectors), centroids round-tripping through the driver as a model
    artifact between iterations.  Output is the per-cluster k-means
    objective after the final assignment — member count and inertia —
    exact-decimal deterministic against the oracle's fully-relational
    two-iteration CTE chain."""
    return kmeans_lloyd(t(spark, sf_dir, "embeddings"), k=8, iters=2)


@query(
    "emb_ivf_trained_topk",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=2
    ),
    tier="C",
)
def emb_ivf_trained_topk(spark, sf_dir):
    """L3 trained-ANN composition (the production IVF shape, closing
    the 'stand-in centroids' seam): Lloyd k-means trains the 8-cell
    coarse quantizer (one scan + one centroid-sized decimal exchange
    per update round), then the SAME engine builds and probes the
    inverted file with the trained centroids — map-only inlined-literal
    cell argmax, 3-of-8 probe filter, exact cosine top-k on the
    survivors.  The probe query plans with ZERO shuffles (plan-asserted
    in tests/test_plans.py); the oracle reconstructs the trained
    centroids relationally from the same exact-decimal update
    (operators/kmeans.sql_lloyd_centroid_ctes) so both engines rank
    identical cells and survivors."""
    return ivf_trained_topk(
        t(spark, sf_dir, "embeddings"),
        query_vec_id=123,
        k=10,
        n_cents=8,
        nprobe=3,
        train_iters=2,
    )


@query(
    "emb_ivf_persisted_topk",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=2
    ),
    tier="C",
)
def emb_ivf_persisted_topk(spark, sf_dir):
    """L3 PERSISTED ANN index — the serving shape in-query probes
    skip: ``write_ivf_index`` trains the quantizer ONCE and stores
    the corpus hive-partitioned by ``cell=`` (the inverted lists AS
    directory layout, centroids.json beside), then
    ``ivf_index_probe_topk`` answers from the store — probe cells
    ranked driver-side, PARTITION PRUNING skips the other cells'
    files entirely (the FAISS inverted-list skip, plan-asserted), no
    assignment recompute, zero shuffles, TakeOrderedAndProject.
    Assignment reuses the exact ``ivf_cell_sql`` the in-query probes
    use, so this hash-matches the non-persisted trained-IVF oracle:
    persistence changes the COST, never the answer."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivf_index_probe_topk, write_ivf_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_idx_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)
    return ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    )


@query(
    "emb_ivf_sampled_topk",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=3,
        train_mod=2,
    ),
    tier="C",
)
def emb_ivf_sampled_topk(spark, sf_dir):
    """L3 SAMPLED-training IVF (round 6 — the 100 TB training story):
    identical to ``emb_ivf_trained_topk`` but Lloyd trains on the
    deterministic salted-hash HALF of the corpus
    (``train_frac=0.5`` → ``token_hash('ktrain_'||vec_id) % 2 == 0``)
    over three rounds, while the index build + probe still cover every
    vector.  This is how production quantizers train — FAISS fits
    IVF/PQ on a bounded sample regardless of corpus size — so each
    Lloyd round's scan cost is capped by the sample, not the corpus.
    The sampler is a scan-side filter (no shuffle, idempotent under
    retry), and the oracle reconstructs the SAMPLED training
    relationally (``train_mod=2`` in the Lloyd CTE chain), so the
    hash match proves sampled centroids, cell assignment, and probe
    ranking end-to-end; a recall-vs-full-train property lives in
    tests/test_scale.py."""
    return ivf_trained_topk(
        t(spark, sf_dir, "embeddings"),
        query_vec_id=123,
        k=10,
        n_cents=8,
        nprobe=3,
        train_iters=3,
        train_frac=0.5,
    )


@query(
    "emb_ivfadc_trained_topk",
    oracle=sql_ivfadc_trained_topk(
        query_vec_id=55, k=10, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
        train_iters=2,
    ),
    tier="C",
)
def emb_ivfadc_trained_topk(spark, sf_dir):
    """L3 fully TRAINED IVFADC (round 5): Lloyd trains the coarse
    cells on whole vectors AND one PQ codebook per subspace on the
    sliced sub-vectors — the way FAISS trains IVFPQ — then the same
    engine builds and probes the index: map-only cell argmin +
    per-subspace code argmin over inlined trained literals, 3-of-8
    probe prune, ADC literal-table ranking, zero shuffles in the
    serving plan.  The oracle reconstructs all five trained artifacts
    relationally (one exact-decimal Lloyd CTE chain each), so the
    hash match proves the full train→index→query composition."""
    return ivfadc_trained_topk(
        t(spark, sf_dir, "embeddings"),
        query_vec_id=55,
        k=10,
        n_cells=8,
        nprobe=3,
        n_sub=4,
        k_codes=8,
        train_iters=2,
    )


@query(
    "emb_ivfadc_residual_topk",
    oracle=sql_ivfadc_residual_topk(
        query_vec_id=77, k=10, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
        train_iters=2,
    ),
    tier="C",
)
def emb_ivfadc_residual_topk(spark, sf_dir):
    """L3 RESIDUAL IVFADC (round 5 — the exact FAISS IVFPQ serving
    algebra): PQ codes quantize ``x − c(cell)``, implemented map-only
    via ``sqdist(x − c, b) == sqdist(x, c + b)`` — per-cell effective
    codewords are a cell-indexed literal table, encode is a runtime
    fold over ``element_at(table, cell+1)``, ADC a 2-D element_at —
    so the plan never branches per cell and stays inside codegen.
    Zero shuffles in the serving plan; the oracle materializes the
    combined codewords relationally from the same trained chains."""
    return ivfadc_residual_topk(
        t(spark, sf_dir, "embeddings"),
        query_vec_id=77,
        k=10,
        n_cells=8,
        nprobe=3,
        n_sub=4,
        k_codes=8,
        train_iters=2,
    )


@query(
    "emb_ivfadc_persisted_topk",
    oracle=sql_ivfadc_residual_topk(
        query_vec_id=77, k=10, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
        train_iters=2,
    ),
    tier="C",
)
def emb_ivfadc_persisted_topk(spark, sf_dir):
    """L3 PQ-CODED persisted ANN store (round 10 — the FAISS IVFPQ
    deployment shape): ``write_ivfpq_index`` trains coarse cells +
    per-subspace codebooks once, residual-encodes every vector with
    the SHARED combined-codeword algebra, and stores only the codes
    (``n_sub`` small ints vs ``dim×4`` float bytes — the 16-32×
    scan-byte saving a flat store forfeits at 100 TB) hive-partitioned
    by cell; ``ivfpq_index_probe_topk`` then answers with partition
    pruning (nprobe directories) + a map-side ADC literal-table sum —
    the scan reads codes, never vectors (plan-asserted).  Hash-matches
    the in-query residual-IVFADC twin's oracle: persistence changes
    the COST model, never the answer."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivfpq_index_probe_topk, write_ivfpq_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_idx_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=77
    )


#: tombstoned ids for emb_ivf_delete_probe — the pre-delete top-2 at
#: BOTH test scales (sf0.001: 343, 492; sf0.01: 288, 88), so the
#: delete provably removes rows that WOULD have been served.
_ANN_DELETED_IDS = [88, 288, 343, 492]

#: same discipline for the PQ store (qid 77's pre-delete top-2 at
#: sf0.001: 178, 324; at sf0.01: 84, 444).
_PQ_DELETED_IDS = [84, 178, 324, 444]


@query(
    "emb_ivf_delete_probe",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=2,
        exclude_ids=_ANN_DELETED_IDS,
    ),
    tier="C",
)
def emb_ivf_delete_probe(spark, sf_dir):
    """L3 DELETES in the persisted ANN store (round 10): a document
    removed from the corpus by takedown or dedup keep-list must stop
    being retrievable by vector search — ``delete_from_ann_index``
    files a metadata-sized tombstone batch (the LSM contract the
    ZipNum/parquet index stores already carry), probes exclude the
    ids via a scan-side filter at ANY nprobe (no join, no shuffle,
    same pruned plan), and ``compact_ivf_index`` makes the purge
    physical (pinned by reading store bytes in tests/test_scale.py).
    The tombstoned ids are the pre-delete top-2 at both test scales,
    so this query's rows CHANGE versus ``emb_ivf_persisted_topk`` —
    the oracle reconstructs the same store with the ids excluded
    from probing but NOT from training (deletes hide rows, they
    never retrain the quantizer)."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        delete_from_ann_index,
        ivf_index_probe_topk,
        write_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_del_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    delete_from_ann_index(out, _ANN_DELETED_IDS[:2])
    delete_from_ann_index(out, _ANN_DELETED_IDS[2:])  # batches union
    qv = collect_query_vector(emb, 123)
    return ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    )


@query(
    "emb_ivfsq_persisted_topk",
    oracle=__import__(
        "webarchive_indexing_spark.operators.similarity",
        fromlist=["sql_ivfsq_trained_topk"],
    ).sql_ivfsq_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=2,
    ),
    tier="C",
)
def emb_ivfsq_persisted_topk(spark, sf_dir):
    """L3 IVF-SQ8 persisted store (round 11 — FAISS
    IndexIVFScalarQuantizer, completing the flat/SQ8/PQ storage
    ladder): same Lloyd quantizer and ``cell=`` hive layout as the
    flat store, but the inverted lists hold one double scale + dim
    tinyints per vector (~4× smaller probe scans), and the probe
    ranks by the cosine of the DEQUANTIZED vectors — partition
    pruning + map-side dequantize, zero shuffles.  The quantize
    algebra is shared with the int8 refine sidecar, and the oracle
    reconstructs train→assign→probe→dequantize→rank relationally, so
    the hash match pins the whole chain."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        ivfsq_index_probe_topk,
        write_ivfsq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfsq_idx_")
    write_ivfsq_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)
    return ivfsq_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123
    )


@query(
    "emb_ann_range_search",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, n_cents=8, nprobe=3, train_iters=2,
        radius=0.2,
    ),
    tier="C",
)
def emb_ann_range_search(spark, sf_dir):
    """L3 RANGE search over the persisted flat store (round 12 —
    FAISS ``range_search``, the serving mode top-k cannot express):
    return EVERY vector in the probed cells whose exact cosine
    similarity clears the radius, however many there are — the query
    shape of duplicate sweeps, similar-content takedowns, and recall
    audits, where 'the nearest k' under-reports by construction.
    Same pruned ``cell=`` scan and tombstone path as the top-k probe
    (one shared scored frame, so the two modes can never score a
    vector differently); the cut applies to the 6dp-rounded score so
    the boundary is engine-portable; result ordered (sim DESC, id)
    for determinism where FAISS returns hits unordered.  Oracle: the
    trained-IVF relational twin with the similarity cut replacing the
    LIMIT."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivf_index_probe_range, write_ivf_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_range_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)
    return ivf_index_probe_range(
        spark, out, qv, 0.2, nprobe=3, exclude_id=123
    )


@query(
    "emb_ivf_metric_ip",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=2,
        metric="ip",
    ),
    tier="C",
)
def emb_ivf_metric_ip(spark, sf_dir):
    """L3 INNER-PRODUCT serving (round 12 — FAISS
    METRIC_INNER_PRODUCT, the metric recommendation/MIPS workloads
    use where vector magnitude IS signal): the flat store keeps whole
    vectors, so ONE stored index serves any metric — probe-cell
    ranking and survivor scoring both switch to the raw 6dp dot
    product (``metric='ip'``), descending, while the store's coarse
    assignment stays its build-time property.  FAISS can't do this
    (its quantizer owns one metric at build); here it's a query-time
    parameter with recall governed by nprobe as usual.  The oracle
    reruns the trained-IVF twin under the same metric — dot-ranked
    probe cells, decimal-exact dot scores."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivf_index_probe_topk, write_ivf_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_ip_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)
    return ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123, metric="ip"
    )


@query(
    "emb_ivf_metric_l2",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=2,
        metric="l2", radius=1.6,
    ),
    tier="C",
)
def emb_ivf_metric_l2(spark, sf_dir):
    """L2 metric serving composed with RANGE (round 12 — FAISS
    METRIC_L2 range_search, the classic 'all points within distance
    r' query): squared-distance scoring ASCENDING with the radius as
    a distance CEILING, probe cells ranked by distance to the query —
    all from the same flat store, switched at query time.  The oracle
    reruns the trained-IVF twin under metric='l2' with the identical
    ceiling, pinning both the ascending cell ranking and the
    inclusive 6dp boundary."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivf_index_probe_range, write_ivf_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_l2_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)
    return ivf_index_probe_range(
        spark, out, qv, 1.6, nprobe=3, exclude_id=123, metric="l2"
    )


@query(
    "emb_ivfsq_range_search",
    oracle=__import__(
        "webarchive_indexing_spark.operators.similarity",
        fromlist=["sql_ivfsq_trained_topk"],
    ).sql_ivfsq_trained_topk(
        query_vec_id=123, n_cents=8, nprobe=3, train_iters=2,
        radius=0.15, where_sql="label <= 4",
    ),
    tier="C",
)
def emb_ivfsq_range_search(spark, sf_dir):
    """RANGE × QUANTIZED × FILTERED composed (round 12): the radius
    cut runs over the SQ8 store's DEQUANTIZED cosines with an
    attribute predicate pushed into the same pruned scan (a sargable
    comparison, so it reaches PushedFilters — plan-asserted) — one
    compact-payload pass answers 'all low-label vectors at least
    this similar', the filtered-sweep shape at ~4× fewer scan bytes
    than the flat store.  The oracle reconstructs
    train→assign→probe→filter→dequantize→radius-cut relationally, so
    the hash match pins quantization error handling at the boundary
    too (both engines cut on the same 6dp-rounded dequantized
    score)."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        ivfsq_index_probe_range,
        write_ivfsq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfsq_range_")
    write_ivfsq_index(emb, out, n_cents=8, train_iters=2, attrs=["label"])
    qv = collect_query_vector(emb, 123)
    return ivfsq_index_probe_range(
        spark, out, qv, 0.15, nprobe=3, exclude_id=123,
        where="label <= 4",
    )


@query(
    "emb_ivfpq_range_search",
    oracle=sql_ivfadc_residual_topk(
        query_vec_id=77, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
        train_iters=2, radius=1.05,
    ),
    tier="C",
)
def emb_ivfpq_range_search(spark, sf_dir):
    """RANGE search over the PQ-CODED store (round 12 — completing
    the flat/SQ8/PQ range matrix; FAISS ``IndexIVFPQ.range_search``):
    the cut is a DISTANCE threshold on the ADC sum, matching FAISS's
    L2-metric range semantics on quantized indexes — the scan can
    compute nothing else from codes alone, and a caller sweeping for
    near-duplicates wants exactly the codes-cheap first pass (over-
    fetch at the ADC cut, re-rank survivors via the refine sidecar if
    exactness matters).  Same pruned codes-only scan as top-k (no
    vector bytes, tombstones honored) through one shared scored
    frame; the oracle reconstructs train→encode→ADC relationally with
    the radius replacing LIMIT, pinning the decimal-exact ADC sums at
    the boundary."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        ivfpq_index_probe_range,
        write_ivfpq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_range_")
    write_ivfpq_index(emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2)
    qv = collect_query_vector(emb, 77)
    return ivfpq_index_probe_range(
        spark, out, qv, 1.05, nprobe=3, exclude_id=77
    )


@query(
    "emb_ivf_store_rebuild",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=2,
        exclude_ids=_ANN_DELETED_IDS,
    ),
    tier="C",
)
def emb_ivf_store_rebuild(spark, sf_dir):
    """VERSIONED store lifecycle end-to-end (round 11 — always-on
    serving): ``write_ivf_index_versioned`` publishes the build behind
    an atomic ``CURRENT`` pointer (a reader never sees a half-written
    or briefly-absent store — the in-place compaction's documented
    race, closed); tombstone batches file at the ROOT so they span
    versions; compaction rewrites the published payload minus the
    tombstones into a FRESH version and swaps the pointer, leaving the
    old version intact for in-flight readers until
    ``expire_store_versions``.  The probe here runs against the root
    AFTER the rebuild — deleted ids are physically gone from the new
    version — and hash-matches the same trained-IVF-with-exclusions
    oracle as the tombstone-only twin (``emb_ivf_delete_probe``):
    versioning changes the publish protocol, never the answer."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        compact_ivf_index,
        delete_from_ann_index,
        ivf_index_probe_topk,
        write_ivf_index_versioned,
    )

    emb = t(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ivf_rebuild_")
    write_ivf_index_versioned(emb, root, n_cents=8, train_iters=2)
    delete_from_ann_index(root, _ANN_DELETED_IDS)
    compact_ivf_index(spark, root)  # delegates to the versioned rebuild
    qv = collect_query_vector(emb, 123)
    return ivf_index_probe_topk(
        spark, root, qv, k=10, nprobe=3, exclude_id=123
    )


@query(
    "emb_ivfpq_refined_topk",
    oracle=__import__(
        "webarchive_indexing_spark.operators.similarity",
        fromlist=["sql_ivfpq_refined_topk"],
    ).sql_ivfpq_refined_topk(
        query_vec_id=77, k=10, k_factor=4, n_cells=8, nprobe=3, n_sub=4,
        k_codes=8, train_iters=2,
    ),
    tier="C",
)
def emb_ivfpq_refined_topk(spark, sf_dir):
    """L3 REFINE stage (round 10 — the FAISS IndexRefineFlat serving
    pattern): PQ codes rank cheaply but lossily, so the probe
    over-fetches k×4 candidates via ADC from the CODES store, then
    re-ranks exactly those with exact cosine against the flat vector
    source — a driver-sized id list inlined as a pushed-down In
    filter, no join, no shuffle, two jobs.  Output is by construction
    the exact-cosine order of the candidate set, so refined recall
    matches or beats the raw ADC top-k (pinned in tests/test_scale.py
    against brute force).  The oracle wraps the residual-IVFADC twin
    as a candidate CTE and re-ranks relationally."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivfpq_refined_topk, write_ivfpq_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_ref_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_refined_topk(
        spark, out, emb, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    )


@query(
    "emb_ivfpq_delete_probe",
    oracle=sql_ivfadc_residual_topk(
        query_vec_id=77, k=10, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
        train_iters=2, exclude_ids=_PQ_DELETED_IDS,
    ),
    tier="C",
)
def emb_ivfpq_delete_probe(spark, sf_dir):
    """L3 deletes on the PQ-CODED store (round 10, closing the
    delete-oracle symmetry with the flat store): tombstone batches
    hide the ids from ADC probes at any nprobe through the same
    ``delete_from_ann_index`` path; the tombstoned ids are the
    pre-delete top-2 at both test scales, so the answer provably
    changes versus ``emb_ivfadc_persisted_topk``.  The oracle
    reconstructs the trained residual-IVFADC chain with the ids
    excluded from ASSIGNMENT but not training (deletes never retrain
    quantizers or codebooks); physical purge via
    ``compact_ivf_index(subdir='codes')`` is pinned in
    tests/test_scale.py."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        delete_from_ann_index,
        ivfpq_index_probe_topk,
        write_ivfpq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_del_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2
    )
    delete_from_ann_index(out, _PQ_DELETED_IDS)
    qv = collect_query_vector(emb, 77)
    return ivfpq_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=77
    )


@query(
    "emb_ivfpq_refined_store",
    oracle=__import__(
        "webarchive_indexing_spark.operators.similarity",
        fromlist=["sql_ivfpq_refined_topk"],
    ).sql_ivfpq_refined_topk(
        query_vec_id=77, k=10, k_factor=4, n_cells=8, nprobe=3, n_sub=4,
        k_codes=8, train_iters=2,
    ),
    tier="C",
)
def emb_ivfpq_refined_store(spark, sf_dir):
    """STORE-RESIDENT refine sidecar (round 11): the flat vectors ship
    WITH the index — ``write_ivfpq_index(refine='flat')`` writes them
    under the same ``cell=`` hive layout the codes use, and
    ``ivfpq_refined_topk(vectors_src=None)`` re-ranks against that
    sidecar instead of a caller-supplied corpus table, so refine can
    never be pointed at a stale or mismatched vector source (FAISS
    IndexRefineFlat ships its flat storage inside the index for the
    same reason).  The sidecar scan prunes to the CANDIDATES' cells +
    a pushed-down id In filter — only the candidate rows' files are
    touched (plan-asserted in tests/test_plans.py).  Same oracle as
    ``emb_ivfpq_refined_topk``: residency changes where the bytes
    live, never the answer."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivfpq_refined_topk, write_ivfpq_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_refstore_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="flat",
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_refined_topk(
        spark, out, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    )


@query(
    "emb_ivfpq_refined_int8",
    oracle=sql_ivfpq_refined_int8_topk(
        query_vec_id=77, k=10, k_factor=4, n_cells=8, nprobe=3, n_sub=4,
        k_codes=8, train_iters=2,
    ),
    tier="C",
)
def emb_ivfpq_refined_int8(spark, sf_dir):
    """INT8-SQ refine sidecar (round 11): the sidecar stores the
    ``emb_quantize_int8`` form — one double scale + dim tinyints per
    vector, ~4× smaller than flat — and the re-rank runs on the
    DEQUANTIZED vectors (x̂ = q·scale/127, correctly-rounded IEEE ops
    on both engines).  This is the FAISS SQ-refine middle ground:
    better ordering than raw ADC at a quarter of the flat sidecar's
    refine bytes.  The oracle reconstructs quantize→dequantize→cosine
    relationally over the candidate CTE, so the hash match proves the
    stored codes round-trip exactly."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivfpq_refined_topk, write_ivfpq_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_refint8_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="int8",
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_refined_topk(
        spark, out, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    )


#: heterogeneous query-vector ids for the batch ANN probe — spread
#: across the id space so the per-request probe sets genuinely differ
#: (some cells shared, some not: the union prune does real work).
_ANN_BATCH_QIDS = (77, 123, 55, 321)


def _ann_batch_sql() -> str:
    """UNION ALL of the residual-IVFADC twin per request: exactly the
    per-request probe loop the batch amortizes."""
    subs = []
    for i, qid in enumerate(_ANN_BATCH_QIDS):
        inner = sql_ivfadc_residual_topk(
            query_vec_id=qid, k=10, n_cells=8, nprobe=3, n_sub=4,
            k_codes=8, train_iters=2,
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


def _ivf_batch_sql() -> str:
    """UNION ALL of the trained-IVF twin per request — the flat
    store's per-request probe loop."""
    subs = []
    for i, qid in enumerate(_ANN_BATCH_QIDS):
        inner = sql_ivf_trained_topk(
            query_vec_id=qid, k=10, n_cents=8, nprobe=3, train_iters=2
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


@query("emb_ivf_query_batch", oracle=_ivf_batch_sql(), tier="C")
def emb_ivf_query_batch(spark, sf_dir):
    """Batch serving over the FLAT persisted IVF store (round 11 —
    the exact-cosine twin of ``emb_ann_query_batch``, so BOTH store
    layouts carry the amortized request path): probe cells of all
    requests union into one partition-pruned vectors scan, each row
    fans out to the requests probing its cell with the 6dp cosine
    against that request's inlined query literal, per-request top-k
    via one ``request_no`` window.  The oracle UNION ALLs the
    trained-IVF twin per request."""
    import tempfile

    from ..sinks.ann_index import (
        ivf_index_probe_batch_topk,
        write_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_batch_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivf_index_probe_batch_topk(
        spark, out, [vecs[q] for q in qids], k=10, nprobe=3,
        exclude_ids=qids,
    )


def _ann_refined_batch_sql() -> str:
    """UNION ALL of the refined twin per request — the per-request
    ``ivfpq_refined_topk`` loop the batch-refine composition
    amortizes."""
    from ..operators.similarity import sql_ivfpq_refined_topk

    subs = []
    for i, qid in enumerate(_ANN_BATCH_QIDS):
        inner = sql_ivfpq_refined_topk(
            query_vec_id=qid, k=10, k_factor=4, n_cells=8, nprobe=3,
            n_sub=4, k_codes=8, train_iters=2,
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


@query("emb_ann_refined_batch", oracle=_ann_refined_batch_sql(), tier="C")
def emb_ann_refined_batch(spark, sf_dir):
    """BATCH + REFINE composed (round 11 — the full production vector
    request path): N query vectors run the batch ADC over-fetch (one
    union-of-cells pruned CODES scan) and then ONE sidecar refine scan
    — pruned to the union of the candidates' cells with a pushed-down
    id In filter — re-ranks every (request, candidate) pair with exact
    cosine, per-request top-k via one ``request_no`` window.  Two jobs
    total for N requests, against 2·N for the per-request loop; the
    oracle UNION ALLs the refined twin per request, so the hash match
    proves each request's batch rows equal its one-at-a-time refined
    answer (FAISS batched search over IndexRefineFlat)."""
    import tempfile

    from ..sinks.ann_index import (
        ivfpq_refined_batch_topk,
        write_ivfpq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_refbatch_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="flat",
    )
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivfpq_refined_batch_topk(
        spark, out, [vecs[q] for q in qids], k=10, k_factor=4, nprobe=3,
        exclude_ids=qids,
    )


@query("emb_ann_query_batch", oracle=_ann_batch_sql(), tier="C")
def emb_ann_query_batch(spark, sf_dir):
    """BATCH ANN serving (round 11 — FAISS batched ``search()`` / the
    cc-index-server amortization applied to vector search): N query
    vectors answered in ONE job over the persisted IVFPQ store instead
    of one driver-scheduled probe job per vector.  The probe cells of
    all requests union into a single pruned codes scan (block IO
    bounded by the union — shared cells read once, plan-asserted in
    tests/test_plans.py); per-request ADC distances come from the
    per-query literal lookup tables in the ``cdx_query_batch``
    CASE-chain slot (map-side ``inline(filter(array(...)))``, one SQL
    string); per-request top-k is ONE window over ``request_no`` —
    the plan's only shuffle, over k-bounded candidates.  The oracle is
    the per-request residual-IVFADC twin UNION ALL'd, so the hash
    match proves each request's batch rows equal its one-at-a-time
    answer."""
    import tempfile

    from ..sinks.ann_index import (
        ivfpq_index_probe_batch_topk,
        write_ivfpq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_batch_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2
    )
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivfpq_index_probe_batch_topk(
        spark, out, [vecs[q] for q in qids], k=10, nprobe=3,
        exclude_ids=qids,
    )


#: per-request attribute predicates for the filtered batch — valid in
#: BOTH engines (Spark probe arms and the DuckDB twin), deliberately
#: heterogeneous: equality, IN-list, modulo, and one unfiltered slot.
_ANN_FILTER_WHERES = ("label = 2", "label IN (1, 5)", "label % 3 = 1", None)
_ANN_RANGE_RADII = (0.2, 0.2, 0.18, 0.15)


def _ivf_filtered_batch_sql() -> str:
    """UNION ALL of the FILTERED trained-IVF twin per request — the
    per-request filtered probe loop the batch amortizes."""
    subs = []
    for i, (qid, wh) in enumerate(
        zip(_ANN_BATCH_QIDS, _ANN_FILTER_WHERES)
    ):
        inner = sql_ivf_trained_topk(
            query_vec_id=qid, k=10, n_cents=8, nprobe=3, train_iters=2,
            where_sql=wh,
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


def _ivf_range_filtered_batch_sql() -> str:
    """UNION ALL of the RANGE+FILTERED trained-IVF twin per request."""
    subs = []
    for i, (qid, r, wh) in enumerate(
        zip(_ANN_BATCH_QIDS, _ANN_RANGE_RADII, _ANN_FILTER_WHERES)
    ):
        inner = sql_ivf_trained_topk(
            query_vec_id=qid, n_cents=8, nprobe=3, train_iters=2,
            radius=r, where_sql=wh,
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


@query(
    "emb_ann_range_filtered_batch",
    oracle=_ivf_range_filtered_batch_sql(),
    tier="C",
)
def emb_ann_range_filtered_batch(spark, sf_dir):
    """RANGE × FILTERED × BATCH composed (round 12): each request
    carries its OWN radius AND its own attribute predicate —
    equality, IN-list, modulo, and one unfiltered — all riding the
    struct arms of ONE union-pruned scan with no window.  The
    bulk-sweep shape with per-tenant constraints: 'all matches past
    each suspect's threshold, within each tenant's slice, one job'.
    Oracle: the radius+filtered trained-IVF twin UNION ALL'd per
    request."""
    import tempfile

    from ..sinks.ann_index import (
        ivf_index_probe_batch_range,
        write_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_rfb_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivf_index_probe_batch_range(
        spark, out, [vecs[q] for q in qids], list(_ANN_RANGE_RADII),
        nprobe=3, exclude_ids=qids, wheres=list(_ANN_FILTER_WHERES),
    )


@query(
    "emb_ann_filtered_topk",
    oracle=sql_ivf_trained_topk(
        query_vec_id=123, k=10, n_cents=8, nprobe=3, train_iters=2,
        where_sql="label = 2",
    ),
    tier="C",
)
def emb_ann_filtered_topk(spark, sf_dir):
    """L3 FILTERED vector search (round 12 — FAISS IDSelector /
    predicate-constrained ANN, the query every production vector
    store serves: language=en, license=permissive, date-range):
    attribute columns ride the flat store's rows for free (the build
    writes the whole input frame), and the probe's ``where``
    predicate pushes into the SAME cell-pruned parquet scan
    (plan-asserted: PushedFilters carries the label equality, zero
    extra exchanges) BEFORE top-k — so the k survivors are the true
    filtered top-k within the probed cells, never k results
    post-filtered down to fewer with no recall guarantee.  The oracle
    is the trained-IVF relational twin with the identical predicate
    applied at the identical point."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivf_index_probe_topk, write_ivf_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_filt_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qv = collect_query_vector(emb, 123)
    return ivf_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=123,
        where="label = 2",
    )


@query(
    "emb_ann_filtered_batch",
    oracle=_ivf_filtered_batch_sql(),
    tier="C",
)
def emb_ann_filtered_batch(spark, sf_dir):
    """Filtered search in the BATCH serving path (round 12): each
    request carries its OWN attribute predicate — equality, IN-list,
    modulo, and one unfiltered — riding inside its struct arm
    (map-side, filters before that request's top-k) while all four
    requests still share ONE union-of-cells pruned scan and ONE
    ``request_no`` window.  The oracle UNION ALLs the filtered
    trained-IVF twin per request, so the hash match proves each
    request's batch rows equal its one-at-a-time filtered answer."""
    import tempfile

    from ..sinks.ann_index import (
        ivf_index_probe_batch_topk,
        write_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_filtbatch_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivf_index_probe_batch_topk(
        spark, out, [vecs[q] for q in qids], k=10, nprobe=3,
        exclude_ids=qids, wheres=list(_ANN_FILTER_WHERES),
    )




def _ivf_range_batch_sql() -> str:
    """UNION ALL of the RANGE trained-IVF twin per request — the
    per-request radius-probe loop the batch amortizes."""
    subs = []
    for i, (qid, r) in enumerate(zip(_ANN_BATCH_QIDS, _ANN_RANGE_RADII)):
        inner = sql_ivf_trained_topk(
            query_vec_id=qid, n_cents=8, nprobe=3, train_iters=2,
            radius=r,
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


@query(
    "emb_ann_range_batch",
    oracle=_ivf_range_batch_sql(),
    tier="C",
)
def emb_ann_range_batch(spark, sf_dir):
    """Batch RANGE serving (round 12): N (query, radius) requests —
    each with its OWN radius — answered by ONE union-of-cells pruned
    vectors scan with per-request map-side radius cuts in the struct
    arms.  Range needs no per-request top-k, so unlike every batch
    top-k probe there is NO request window: the plan's only exchange
    is the final output ordering (plan-asserted), making batch range
    the cheapest serving mode at any request count — the bulk
    duplicate-sweep shape (N suspect documents, all matches past
    their thresholds, one job).  Oracle: the radius trained-IVF twin
    UNION ALL'd per request, so the hash match proves each request's
    batch rows equal its one-at-a-time range answer."""
    import tempfile

    from ..sinks.ann_index import (
        ivf_index_probe_batch_range,
        write_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivf_rangebatch_")
    write_ivf_index(emb, out, n_cents=8, train_iters=2)
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivf_index_probe_batch_range(
        spark, out, [vecs[q] for q in qids], list(_ANN_RANGE_RADII),
        nprobe=3, exclude_ids=qids,
    )


_PQ_RANGE_RADII = (1.05, 1.05, 1.1, 1.08)


def _ivfpq_range_batch_sql() -> str:
    """UNION ALL of the residual-ADC RANGE twin per request."""
    subs = []
    for i, (qid, r) in enumerate(zip(_ANN_BATCH_QIDS, _PQ_RANGE_RADII)):
        inner = sql_ivfadc_residual_topk(
            query_vec_id=qid, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
            train_iters=2, radius=r,
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


@query(
    "emb_ivfpq_range_batch",
    oracle=_ivfpq_range_batch_sql(),
    tier="C",
)
def emb_ivfpq_range_batch(spark, sf_dir):
    """Batch RANGE over the PQ store (round 12 — with the SQ8 twin
    below, every layout serves single and batch, top-k and range):
    N (query, ADC-distance-ceiling) requests from ONE
    union-pruned codes-only scan, per-request ADC in the struct arms,
    the ceilings applied map-side through a request_no CASE — no
    window, no vector bytes, one output-ordering exchange.  The
    oracle UNION ALLs the residual-ADC radius twin per request, so
    the hash match proves each request's batch rows equal its
    one-at-a-time PQ range answer."""
    import tempfile

    from ..sinks.ann_index import (
        ivfpq_index_probe_batch_range,
        write_ivfpq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_rangebatch_")
    write_ivfpq_index(emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2)
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivfpq_index_probe_batch_range(
        spark, out, [vecs[q] for q in qids], list(_PQ_RANGE_RADII),
        nprobe=3, exclude_ids=qids,
    )


_SQ_RANGE_RADII = (0.15, 0.15, 0.18, 0.12)


def _ivfsq_range_batch_sql() -> str:
    """UNION ALL of the SQ8 RANGE twin per request."""
    from ..operators.similarity import sql_ivfsq_trained_topk

    subs = []
    for i, (qid, r) in enumerate(zip(_ANN_BATCH_QIDS, _SQ_RANGE_RADII)):
        inner = sql_ivfsq_trained_topk(
            query_vec_id=qid, n_cents=8, nprobe=3, train_iters=2,
            radius=r,
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


@query(
    "emb_ivfsq_range_batch",
    oracle=_ivfsq_range_batch_sql(),
    tier="C",
)
def emb_ivfsq_range_batch(spark, sf_dir):
    """Batch RANGE over the SQ8 store (round 12 — the serving
    matrix's last cell: flat/SQ8/PQ × single/batch × top-k/range all
    filled): N (query, radius) requests from ONE union-pruned
    quantized scan, the per-row dequantize computed once and shared
    by every request's arm, per-request radius floors on the
    dequantized cosine map-side — no window, one output-ordering
    exchange, ~4× fewer scan bytes than the flat batch.  Oracle: the
    SQ8 radius twin UNION ALL'd per request."""
    import tempfile

    from ..sinks.ann_index import (
        ivfsq_index_probe_batch_range,
        write_ivfsq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfsq_rangebatch_")
    write_ivfsq_index(emb, out, n_cents=8, train_iters=2)
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivfsq_index_probe_batch_range(
        spark, out, [vecs[q] for q in qids], list(_SQ_RANGE_RADII),
        nprobe=3, exclude_ids=qids,
    )


@query(
    "emb_ivfpq_filtered_topk",
    oracle=sql_ivfadc_residual_topk(
        query_vec_id=77, k=10, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
        train_iters=2, where_sql="label = 4",
    ),
    tier="C",
)
def emb_ivfpq_filtered_topk(spark, sf_dir):
    """Filtered search over the PQ-CODED store (round 12): codes are
    an explicit projection, so attributes opt in at build time —
    ``write_ivfpq_index(attrs=['label'])`` carries the column on the
    code rows and persists the list in ``pq.json`` (appends carry the
    same columns; a probe can never reference a column half the store
    lacks).  The probe predicate pushes into the pruned CODES scan —
    still no vector bytes read — and filters before the ADC top-k.
    Oracle: the residual-IVFADC twin with the identical predicate on
    the survivor CTE."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        ivfpq_index_probe_topk,
        write_ivfpq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_filt_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        attrs=["label"],
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=77,
        where="label = 4",
    )


def _ivfsq_batch_sql() -> str:
    """UNION ALL of the (optionally filtered) SQ8 twin per request —
    the per-request dequantized-cosine probe loop the SQ batch
    amortizes."""
    from ..operators.similarity import sql_ivfsq_trained_topk

    subs = []
    for i, (qid, wh) in enumerate(
        zip(_ANN_BATCH_QIDS, _ANN_FILTER_WHERES)
    ):
        inner = sql_ivfsq_trained_topk(
            query_vec_id=qid, k=10, n_cents=8, nprobe=3, train_iters=2,
            where_sql=wh,
        )
        subs.append(f"SELECT {i} AS request_no, q.* FROM ({inner}) q")
    return " UNION ALL ".join(subs)


@query("emb_ivfsq_query_batch", oracle=_ivfsq_batch_sql(), tier="C")
def emb_ivfsq_query_batch(spark, sf_dir):
    """Batch serving over the SQ8 store (round 12 — completing the
    batch parity across all three payload layouts, WITH per-request
    filtered-search arms): four requests — equality, IN-list, modulo,
    and one unfiltered — share ONE union-of-cells pruned ``sq`` scan,
    the per-row dequantize runs once and feeds every request's 6dp
    cosine arm, and per-request top-k is one ``request_no`` window.
    The oracle UNION ALLs the filtered SQ8 twin per request, so the
    hash match proves each request's batch rows equal its
    one-at-a-time filtered ``ivfsq_index_probe_topk`` answer."""
    import tempfile

    from ..sinks.ann_index import (
        ivfsq_index_probe_batch_topk,
        write_ivfsq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfsq_batch_")
    write_ivfsq_index(
        emb, out, n_cents=8, train_iters=2, attrs=["label"]
    )
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return ivfsq_index_probe_batch_topk(
        spark, out, [vecs[q] for q in qids], k=10, nprobe=3,
        exclude_ids=qids, wheres=list(_ANN_FILTER_WHERES),
    )


def _refined_filtered_oracle() -> str:
    from ..operators.similarity import sql_ivfpq_refined_topk

    return sql_ivfpq_refined_topk(
        query_vec_id=77, k=10, k_factor=4, n_cells=8, nprobe=3,
        n_sub=4, k_codes=8, train_iters=2, where_sql="label IN (1, 5)",
    )


@query(
    "emb_ivfpq_refined_filtered",
    oracle=_refined_filtered_oracle(),
    tier="C",
)
def emb_ivfpq_refined_filtered(spark, sf_dir):
    """FILTERED search composed with the refine stage (round 12):
    the attribute predicate rides the candidate probe's pushed-down
    codes scan BEFORE the k·k_factor over-fetch, so the sidecar
    re-rank only ever touches predicate-passing candidates — the
    filtered production request path (probe → filter → over-fetch →
    exact re-rank) in two jobs with recall intact.  Oracle: the
    refined twin with the identical predicate on the candidate
    stage."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivfpq_refined_topk, write_ivfpq_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_reffilt_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="flat", attrs=["label"],
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_refined_topk(
        spark, out, None, qv, k=10, k_factor=4, nprobe=3,
        exclude_id=77, where="label IN (1, 5)",
    )


def _opq_oracle() -> str:
    """The residual-IVFADC twin over the RELATIONALLY-ROTATED corpus:
    power-iteration direction → Householder reflector → rotated
    (vec_id, embedding) CTE, then the whole trained chain (coarse
    cells, per-subspace codebooks, assignment, query vector, ADC)
    reads from it — training and serving both live in rotated space,
    exactly like the store."""
    from ..operators.pca import sql_householder_rot_ctes

    return sql_ivfadc_residual_topk(
        query_vec_id=77, k=10, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
        train_iters=2, src="rotemb",
        pre_parts=sql_householder_rot_ctes(2, 64, out="rotemb"),
    )


def _opq_range_oracle() -> str:
    """The OPQ twin with the ADC-distance ceiling replacing LIMIT."""
    from ..operators.pca import sql_householder_rot_ctes

    return sql_ivfadc_residual_topk(
        query_vec_id=77, n_cells=8, nprobe=3, n_sub=4, k_codes=8,
        train_iters=2, src="rotemb",
        pre_parts=sql_householder_rot_ctes(2, 64, out="rotemb"),
        radius=1.05,
    )


@query("emb_ivfpq_opq_range", oracle=_opq_range_oracle(), tier="C")
def emb_ivfpq_opq_range(spark, sf_dir):
    """OPQ × RANGE composed (round 12): the ADC distance ceiling runs
    over the OPQ-preconditioned store — the probe rotates the query
    with the STORED reflector exactly like top-k (rotation is
    orthogonal, so true distances are preserved and the radius keeps
    its geometric meaning; only the quantization grid changed), and
    the oracle reruns the rotated residual-IVFADC chain with the
    ceiling replacing LIMIT.  Proves the range path reads the
    persisted rotation rather than assuming a plain-PQ store."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        ivfpq_index_probe_range,
        write_ivfpq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_opq_range_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        opq_iters=2,
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_index_probe_range(
        spark, out, qv, 1.05, nprobe=3, exclude_id=77
    )


@query("emb_ivfpq_opq_topk", oracle=_opq_oracle(), tier="C")
def emb_ivfpq_opq_topk(spark, sf_dir):
    """L3 OPQ-PRECONDITIONED PQ store (round 12 — the FAISS OPQ rung,
    one-reflector form; Ge et al. 2013): before PQ training/encode,
    every vector is rotated by the Householder reflector H that maps
    the power-iteration leading direction onto e1 — energy compaction
    that concentrates the dominant variance into the first subspace,
    cutting quantization error at the SAME code budget (recall ≥
    plain PQ pinned in tests/test_scale.py).  Training the rotation
    is ``opq_iters`` power-iteration scans + kilobyte exchanges;
    applying it is one map-side fold + zip_with (no shuffle, rides
    the existing encode scan); the reflector persists in ``pq.json``
    so appends rotate identically and probes rotate the query vector
    driver-side.  The oracle derives the rotation RELATIONALLY
    (``sql_householder_rot_ctes``) and runs the residual-IVFADC twin
    over the rotated corpus, so the hash match proves train→rotate→
    encode→probe end to end."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import (
        ivfpq_index_probe_topk,
        write_ivfpq_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_opq_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        opq_iters=2,
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_index_probe_topk(
        spark, out, qv, k=10, nprobe=3, exclude_id=77
    )


def _opq_refined_oracle() -> str:
    from ..operators.pca import sql_householder_rot_ctes

    return __import__(
        "webarchive_indexing_spark.operators.similarity",
        fromlist=["sql_ivfpq_refined_topk"],
    ).sql_ivfpq_refined_topk(
        query_vec_id=77, k=10, k_factor=4, n_cells=8, nprobe=3,
        n_sub=4, k_codes=8, train_iters=2,
        src="rotembo",
        pre_parts=sql_householder_rot_ctes(
            2, 64, out="rotembo", prefix="o"
        ),
        inner_src="rotembi",
        inner_pre_parts=sql_householder_rot_ctes(
            2, 64, out="rotembi", prefix="i"
        ),
    )


@query("emb_ivfpq_opq_refined", oracle=_opq_refined_oracle(), tier="C")
def emb_ivfpq_opq_refined(spark, sf_dir):
    """OPQ × REFINE composed (round 12): the rotated store carries a
    flat refine sidecar — ROTATED vectors under the same ``cell=``
    layout, so the exact re-rank happens in rotated space against
    the driver-rotated query (orthogonal rotation: cosine values are
    geometry-identical, computed bit-identically by both engines).
    Probe = rotated ADC over-fetch → candidate-pruned sidecar re-rank,
    the full production path with the OPQ rung switched on; the
    oracle derives the rotation relationally in BOTH scopes (the
    candidate chain and the outer re-rank)."""
    import tempfile

    from ..operators.similarity import collect_query_vector
    from ..sinks.ann_index import ivfpq_refined_topk, write_ivfpq_index

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfpq_opqref_")
    write_ivfpq_index(
        emb, out, n_cells=8, n_sub=4, k_codes=8, train_iters=2,
        refine="flat", opq_iters=2,
    )
    qv = collect_query_vector(emb, 77)
    return ivfpq_refined_topk(
        spark, out, None, qv, k=10, k_factor=4, nprobe=3, exclude_id=77
    )


@query(
    "warc_media_meta",
    oracle="""
    SELECT 'example,media)/doc/' || doc_id AS urlkey,
           'http://media.example/doc/' || doc_id AS url,
           CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                WHEN 2 THEN 'video/mp4' ELSE 'image/png' END AS mime,
           CASE doc_id % 4 WHEN 1 THEN 'audio' WHEN 2 THEN 'video'
                ELSE 'image' END AS media_kind,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav-pcm'
                WHEN 2 THEN 'mp4' ELSE 'unsupported' END AS format,
           CASE doc_id % 4
                WHEN 0 THEN CAST(16 * (1 + doc_id % 60) AS INT)
                WHEN 2 THEN CAST(16 * (1 + doc_id % 80) AS INT)
                ELSE NULL END AS width,
           CASE doc_id % 4
                WHEN 0 THEN CAST(16 * (1 + doc_id % 34) AS INT)
                WHEN 2 THEN CAST(16 * (1 + doc_id % 45) AS INT)
                ELSE NULL END AS height,
           CASE doc_id % 4 WHEN 0 THEN CAST(24 AS INT)
                ELSE NULL END AS color_depth,
           CASE doc_id % 4 WHEN 1 THEN CAST(1 + doc_id % 2 AS INT)
                ELSE NULL END AS channels,
           CASE doc_id % 4 WHEN 1 THEN CAST(8000 * (1 + doc_id % 5) AS INT)
                ELSE NULL END AS sample_rate,
           CASE doc_id % 4 WHEN 1 THEN CAST(16 AS INT)
                ELSE NULL END AS bits,
           CASE doc_id % 4 WHEN 1 THEN CAST(100 + doc_id % 400 AS BIGINT)
                ELSE NULL END AS n_frames,
           CASE doc_id % 4 WHEN 2 THEN CAST(1000 AS BIGINT)
                ELSE NULL END AS timescale,
           CASE doc_id % 4
                WHEN 1 THEN CAST((100 + doc_id % 400) * 1000
                                 // (8000 * (1 + doc_id % 5)) AS BIGINT)
                WHEN 2 THEN CAST(1 + doc_id % 100000 AS BIGINT)
                ELSE NULL END AS duration_ms
    FROM documents WHERE doc_id < 120
    """,
    tier="C",
)
def warc_media_meta(spark, sf_dir):
    """L6 WARC → media curation END-TO-END (round 12, closing the
    last ingest→curation seam the round-11 verdict named): media
    payloads synthesized deterministically from documents rows are
    written into a REAL .warc.gz container (one gzip member per
    record, the Common Crawl layout), ingested by
    ``index_warcs(keep_payload=('image/','audio/','video/'))`` — the
    opt-in retention that rides payload bytes as a trailing binary
    column only for allowlisted mimes — and curated by the composed
    ``media_meta`` extractor (ONE Arrow pass routing each payload to
    the PNG/WAV/MP4 header parser by mime prefix).  One arm per four
    is a DAMAGED png (valid signature, junk IHDR) exercising the
    per-row 'unsupported' quarantine through the whole chain.  The
    oracle reconstructs every CDX key field (SURT urlkey, url, mime)
    and every parsed header value relationally from the same doc_id
    grammar, so the hash match proves WARC grammar → retention →
    routing → header parse end to end.  CDX-only ingest is untouched
    (schema equality pinned in tests/test_warc.py)."""
    import tempfile

    from ..operators.multimodal import (
        build_mp4,
        build_png_header,
        build_wav,
        media_meta,
    )
    from ..sources.warc import index_warcs, write_mini_warc

    ids = [
        int(r.doc_id)
        for r in t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .collect()
    ]
    recs = []
    for k in sorted(ids):
        url = f"http://media.example/doc/{k}"
        date = "2020-01-01T00:00:00Z"
        if k % 4 == 0:
            recs.append(dict(url=url, date_iso=date, mime="image/png",
                             payload=build_png_header(
                                 16 * (1 + k % 60), 16 * (1 + k % 34))))
        elif k % 4 == 1:
            recs.append(dict(url=url, date_iso=date, mime="audio/wav",
                             payload=build_wav(
                                 1 + k % 2, 8000 * (1 + k % 5), 16,
                                 100 + k % 400)))
        elif k % 4 == 2:
            recs.append(dict(url=url, date_iso=date, mime="video/mp4",
                             payload=build_mp4(
                                 16 * (1 + k % 80), 16 * (1 + k % 45),
                                 1000, 1 + k % 100000)))
        else:
            recs.append(dict(url=url, date_iso=date, mime="image/png",
                             payload=b"\x89PNG\r\n\x1a\nJUNK"))
    d = tempfile.mkdtemp(prefix="warc_media_")
    path = f"{d}/media.warc.gz"
    write_mini_warc(path, recs)
    manifest = spark.createDataFrame([(path,)], ["path"])
    kept = index_warcs(
        spark, manifest, keep_payload=("image/", "audio/", "video/")
    )
    return media_meta(kept, keys=("urlkey", "url", "mime"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS total_uniq,
           {sql_hround("SUM(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
                       " / len(string_split(text, ' '))) / COUNT(*)", 4)} AS avg_ttr
    FROM documents GROUP BY lang
    """,
    tier="C",
)
def text_token_stats(spark, sf_dir):
    """L5 token statistics per language: counts plus mean type-token
    ratio (per-doc ratio is one IEEE division; the mean divides the
    exact double sum — deterministic both engines)."""
    # split + distinct sizes projected once per row; the aggregates
    # read scalars (inlined, the split would run 4x and the distinct
    # 3x per row inside the agg expressions)
    d = t(spark, sf_dir, "documents").select(
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        F.size(F.array_distinct(tokens(F.col("text")))).alias("n_uniq"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_uniq").alias("total_uniq"),
        hround(
            F.sum(F.col("n_uniq").cast("double") / F.col("n_tok")) / F.count(F.lit(1)), 4
        ).alias("avg_ttr"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           {sql_hround("list_sum(list_transform(string_split(text, ' '), t -> length(t)))"
                       " * 1.0 / len(string_split(text, ' '))", 4)} AS mean_tok_len,
           {sql_hround(sql_stopword_count("string_split(text, ' ')") +
                       " * 1.0 / len(string_split(text, ' '))", 4)} AS stop_ratio,
           (len(string_split(text, ' ')) BETWEEN 20 AND 2000
            AND 100 * {sql_stopword_count("string_split(text, ' ')")}
                >= 2 * len(string_split(text, ' '))) AS is_quality
    FROM documents WHERE doc_id < 200
    """,
    tier="C",
)
def text_quality_score(spark, sf_dir):
    """L5 quality scoring: length band, mean token length, stopword
    ratio; the boolean gate uses integer cross-multiplication so no
    float threshold can flip between engines."""
    # project the split ONCE: referencing tokens(text) in every output
    # column would re-split the text per column (no subexpression
    # elimination across a projection's higher-order functions)
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", tokens(F.col("text")).alias("tk"))
    )
    toks = F.col("tk")
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    stop = stopword_count(toks)
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        hround(sum_len * F.lit(1.0) / n, 4).alias("mean_tok_len"),
        hround(stop * F.lit(1.0) / n, 4).alias("stop_ratio"),
        (n.between(20, 2000) & (100 * stop >= 2 * n)).alias("is_quality"),
    )


def _sql_lang_counts() -> str:
    cases = []
    for lang in ("de", "es", "fr", "en"):
        cases.append(f"{sql_stopword_count('toks', lang)} AS c_{lang}")
    return ", ".join(cases)


@query(
    "text_lang_guess",
    oracle=f"""
    WITH scored AS (
      SELECT lang, {_sql_lang_counts()}
      FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT lang,
           CASE WHEN c_de > c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
                WHEN c_es > c_en AND c_es >= c_fr THEN 'es'
                WHEN c_fr > c_en THEN 'fr'
                ELSE 'en' END AS guess,
           COUNT(*) AS n
    FROM scored GROUP BY lang, guess
    """,
    tier="C",
)
def text_lang_guess(spark, sf_dir):
    """L5 heuristic language ID (stopword-set voting) — confusion
    matrix against the labeled lang column.  Fixed tie-break chain
    keeps the argmax deterministic."""
    # split once; four per-language counts then read the array column
    # (inlining tokens(text) per count would re-split 4x per row)
    d = t(spark, sf_dir, "documents").select("lang", tokens(F.col("text")).alias("tk"))
    toks = F.col("tk")
    scored = d.select(
        "lang", *[stopword_count(toks, lg).alias(f"c_{lg}") for lg in ("de", "es", "fr", "en")]
    )
    c = F.col
    guess = (
        F.when((c("c_de") > c("c_en")) & (c("c_de") >= c("c_es")) & (c("c_de") >= c("c_fr")), "de")
        .when((c("c_es") > c("c_en")) & (c("c_es") >= c("c_fr")), "es")
        .when(c("c_fr") > c("c_en"), "fr")
        .otherwise("en")
    )
    return scored.groupBy("lang", guess.alias("guess")).agg(F.count(F.lit(1)).alias("n"))


#: hashed lang-id model geometry: bucket space + training slice +
#: fixed-point scale, shared by the Spark plan and the DuckDB twin.
#: The synthetic documents table's ``lang`` column is a LABEL ONLY —
#: its text is drawn from one shared 31-token vocabulary regardless of
#: language (verified: per-token lang fractions equal the class
#: priors), so the information-theoretic ceiling on raw text is the
#: majority class, which is exactly what the stopword baseline
#: achieves (its de/es/fr lists never match, every doc falls through
#: to 'en').  The lang-id fixture therefore derives a corpus with ONE
#: deterministic per-language marker token appended (``qde``/``qes``/
#: …) — planted signal both engines derive identically — so the query
#: proves the MECHANISM: the trained hashed-BoW model must find the
#: rare discriminative token among the 31 common ones and beat the
#: stopword baseline's majority-class accuracy (pinned in
#: tests/test_scale.py).
_LANGID_BUCKETS = 2048
_LANGID_TRAIN = 400
_LANGID_SCALE = 1_000_000
_LANGID_LANGS = ("de", "es", "fr", "zh", "en")


def _langid_sql() -> str:
    """DuckDB twin of text_lang_id_hashed, generated from the same
    geometry constants so the engines cannot drift."""
    h = sql_token_hash("t")
    f_cols = ", ".join(
        f"SUM(CASE WHEN c.lang = '{lg}' THEN ({_LANGID_SCALE} * c.c) // t.tot "
        f"ELSE 0 END) AS f_{lg}"
        for lg in _LANGID_LANGS
    )
    nl = len(_LANGID_LANGS)
    avg = "(" + " + ".join(f"f_{lg}" for lg in _LANGID_LANGS) + f") // {nl}"
    w_cols = ", ".join(
        f"GREATEST(0, f_{lg} - 2 * ({avg})) AS w_{lg}"
        for lg in _LANGID_LANGS
    )
    s_cols = ", ".join(
        f"SUM(COALESCE(w.w_{lg}, 0)) AS s_{lg}" for lg in _LANGID_LANGS
    )
    # fixed tie-break chain: earlier languages win ties
    arms = []
    for i, lg in enumerate(_LANGID_LANGS[:-1]):
        conds = " AND ".join(
            f"s_{lg} >= s_{other}" for other in _LANGID_LANGS[i + 1 :]
        )
        arms.append(f"WHEN {conds} THEN '{lg}'")
    guess_case = (
        "CASE " + " ".join(arms) + f" ELSE '{_LANGID_LANGS[-1]}' END"
    )
    return f"""
    WITH marked AS (
      SELECT doc_id, lang, text || ' q' || lang AS text FROM documents
    ),
    tr AS (
      SELECT lang, ({h}) % {_LANGID_BUCKETS} AS bucket
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS t
            FROM marked WHERE doc_id < {_LANGID_TRAIN})
    ),
    cnt AS (SELECT lang, bucket, COUNT(*) AS c FROM tr GROUP BY lang, bucket),
    tot AS (SELECT lang, COUNT(*) AS tot FROM tr GROUP BY lang),
    f AS (
      SELECT bucket, {f_cols}
      FROM cnt c JOIN tot t ON c.lang = t.lang GROUP BY bucket
    ),
    w AS (SELECT bucket, {w_cols} FROM f),
    dt AS (
      SELECT doc_id, lang, ({h}) % {_LANGID_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
            FROM marked)
    ),
    s AS (
      SELECT dt.doc_id, dt.lang, {s_cols}
      FROM dt LEFT JOIN w USING (bucket) GROUP BY dt.doc_id, dt.lang
    )
    SELECT lang, {guess_case} AS guess, COUNT(*) AS n
    FROM s GROUP BY lang, guess
    """


@query("text_lang_id_hashed", oracle=_langid_sql(), tier="C")
def text_lang_id_hashed(spark, sf_dir):
    """Multi-class hashed-BoW language ID [north-star: fastText
    lang-id (CCNet/FineWeb run exactly this shape)] — the TRAINED
    upgrade of ``text_lang_guess``'s stopword voting: per-language
    hashed-unigram models learned from a labeled slice (doc_id <
    400), weights = CLIPPED EXCESS frequency ``max(0, f_lang −
    mean_langs)`` in fixed-point integers (the clip is essential: the
    argmax is invariant to per-bucket common offsets, so plain
    frequency sums cannot separate languages — only overrepresented
    buckets may vote), then every document scores all five languages
    and argmaxes with a fixed tie-break chain.  Output is the
    confusion matrix against the labeled lang column.

    Fixture honesty: the synthetic corpus's lang column is a label
    only (see the geometry-constants note), so ONE deterministic
    marker token per doc plants the recoverable signal; the trained
    model must find it among the 31 shared-vocabulary tokens, which
    the stopword baseline structurally cannot (pinned >
    majority-class in tests/test_scale.py).

    Scale design: the model is a ≤2048-row (bucket → 5 weights)
    BROADCAST artifact — the scoring join carries hashed bucket ids
    only (raw text never crosses an exchange, the DSIR discipline),
    and the per-doc regroup is the only wide shuffle.  Training cost
    is one pass over the labeled slice; a real fastText model's
    weights ride in the same broadcast slot."""
    from ..functions.text import token_hash, tokens

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(F.col("text"), F.lit(" q"), F.col("lang")).alias("text"),
    )
    bucket = F.pmod(token_hash(F.col("t")), F.lit(_LANGID_BUCKETS))
    tr = (
        d.filter(F.col("doc_id") < _LANGID_TRAIN)
        .select("lang", F.explode(tokens(F.col("text"))).alias("t"))
        .select("lang", bucket.alias("bucket"))
    )
    cnt = tr.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("c"))
    tot = tr.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    freqs = (
        cnt.join(F.broadcast(tot), "lang")
        .groupBy("bucket")
        .agg(*[
            F.sum(
                F.when(
                    F.col("lang") == lg,
                    F.expr(f"div({_LANGID_SCALE} * c, tot)"),
                ).otherwise(F.lit(0))
            ).alias(f"f_{lg}")
            for lg in _LANGID_LANGS
        ])
    )
    # clipped EXCESS frequency with a 2x-mean noise floor: a bucket
    # votes only for languages where it is STRONGLY overrepresented
    # (>2x the cross-language mean) — the argmax is invariant to any
    # per-bucket common offset, so plain frequency sums cannot
    # separate languages, and a bare max(0, f - mean) clip still lets
    # per-language sampling noise on the common vocabulary outvote
    # the rare discriminative tokens.  Integer-exact throughout.
    avg = F.expr(
        "div(" + " + ".join(f"f_{lg}" for lg in _LANGID_LANGS)
        + f", {len(_LANGID_LANGS)})"
    )
    weights = freqs.select(
        "bucket",
        *[
            F.greatest(F.lit(0), F.col(f"f_{lg}") - 2 * avg).alias(f"w_{lg}")
            for lg in _LANGID_LANGS
        ],
    )
    dt = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t")
    ).select("doc_id", "lang", bucket.alias("bucket"))
    s = (
        dt.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id", "lang")
        .agg(*[
            F.sum(F.coalesce(F.col(f"w_{lg}"), F.lit(0))).alias(f"s_{lg}")
            for lg in _LANGID_LANGS
        ])
    )
    c = F.col
    guess = None
    for i, lg in enumerate(_LANGID_LANGS[:-1]):
        cond = F.lit(True)
        for other in _LANGID_LANGS[i + 1 :]:
            cond = cond & (c(f"s_{lg}") >= c(f"s_{other}"))
        guess = F.when(cond, lg) if guess is None else guess.when(cond, lg)
    guess = guess.otherwise(_LANGID_LANGS[-1])
    return s.groupBy("lang", guess.alias("guess")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "text_bpe_token_count",
    oracle="""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents GROUP BY source
    """,
    tier="C",
)
def text_bpe_token_count(spark, sf_dir):
    """L5 BPE-ish token counting (letter runs / digit runs / symbols)
    — the cost estimator a training pipeline runs over every shard."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(bpe_ish_tokens("text"))).alias("n_bpe_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )


def winnowing_fps(d: DataFrame) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints of ``d``: hash every 3-token
    shingle (the rolling-hash stream), slide a w=4 window over the hash
    sequence, keep each window's minimum, dedupe.  All native array
    expressions — the fingerprint set is ~|doc|/w hashes, the
    shuffle-ready key for a sharing-detection join."""
    hs = F.transform(shingles(tokens(F.col("text"))), token_hash)
    win = F.when(
        F.size(hs) >= 4,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(hs) - 3),
                lambda j: F.array_min(F.slice(hs, j, 4)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return d.select("doc_id", F.explode(win).alias("fp"))


@query(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id,
             list_transform({sql_shingles("string_split(text, ' ')")},
                            s -> {sql_token_hash('s')}) AS h
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, unnest(list_distinct(
             list_transform(range(1, greatest(len(h) - 3, 0) + 1),
                            j -> list_min(h[j:j+3])))) AS fp
    FROM hs
    """,
    tier="C",
)
def text_winnowing_fingerprints(spark, sf_dir):
    """L5 document fingerprinting by winnowing (MOSS-style): two docs
    sharing any fingerprint share a ≥6-token run — the containment/
    plagiarism signal exact-hash dedup can't express."""
    return winnowing_fps(t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))


@query(
    "text_winnowing_shared_pairs",
    oracle=(BASE_SQL + f"""
    , hs AS (
      SELECT doc_id,
             list_transform({sql_shingles("string_split(text, ' ')")},
                            s -> {sql_token_hash('s')}) AS h
      FROM base WHERE doc_id < 200 OR doc_id >= 10000
    ), fps AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(h) - 3, 0) + 1),
                              j -> list_min(h[j:j+3])))) AS fp
      FROM hs
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp
    WHERE a.doc_id < b.doc_id
    GROUP BY a_id, b_id HAVING COUNT(*) >= 2
    """),
    tier="C",
)
def text_winnowing_shared_pairs(spark, sf_dir):
    """L5 containment detection — the JOIN the fingerprints exist for:
    docs sharing ≥2 winnowing fingerprints share long token runs even
    when whole-doc similarity (Jaccard, cosine) is low.  The fp
    equi-join is the blocking (only docs with a colliding window meet);
    the group-count shuffle is keyed on 8-byte (a_id, b_id).  Run over
    the injected-dup corpus: exact copies share all windows, near-dups
    most."""
    base = base_corpus(spark, sf_dir).filter(
        (F.col("doc_id") < 200) | (F.col("doc_id") >= 10000)
    )
    fps = winnowing_fps(base)
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks WHERE doc_id < 30 GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token,
             {sql_hround('tf * ln(CAST(n_docs AS DOUBLE) / df)', 4)} AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token ASC) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    tier="C",
)
def text_tfidf_topterms(spark, sf_dir):
    """L5 TF-IDF: top-5 characteristic terms per document (doc_id<30),
    document frequency over the FULL corpus.  The df side is a
    token-keyed aggregate that Catalyst partial-aggregates map-side;
    the per-doc tf side is filter-pruned at the scan before the join.
    Ranking uses the hround-ed score so the top-5 cut is identical in
    both engines (token ASC breaks exact ties)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = (
        toks.filter(F.col("doc_id") < 30)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            hround(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tfidf")
    )


@query(
    "emb_centroid_means",
    oracle=f"""
    SELECT label, dim,
           {sql_hround("CAST(SUM(CAST(embedding[dim] AS DECIMAL(28,14))) AS DOUBLE)"
                       " / COUNT(*)", 6)} AS centroid_val
    FROM embeddings CROSS JOIN range(1, 65) AS r(dim)
    GROUP BY label, dim
    """,
    tier="C",
)
def emb_centroid_means(spark, sf_dir):
    """L3 centroid refresh (the k-means update step that retrains an
    IVF coarse quantizer): per-(label, dimension) mean component.

    posexplode multiplies rows ×64, but Catalyst's partial aggregation
    collapses each map task to ≤ n_labels×64 partial sums before the
    exchange — the shuffle carries centroids, not vectors, at any data
    size.  Decimal accumulation keeps the mean engine-deterministic."""
    e = t(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    return (
        ex.groupBy("label", (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(
            hround(
                F.sum(F.col("val").cast("double").cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid_val")
        )
    )


@query(
    "text_vocab_topk",
    oracle="""
    SELECT token, n_occ, n_docs FROM (
      SELECT token, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rn
      FROM (
        SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
        FROM documents
      )
      GROUP BY token
    ) WHERE rn <= 50
    """,
    tier="C",
)
def text_vocab_topk(spark, sf_dir):
    """L5 vocabulary build (BPE-prep): top-50 pre-tokens by occurrence
    with document frequency.  Explode → token-keyed partial+final agg
    → TakeOrdered 50: the only full shuffle is keyed on the token, and
    the top-k never globally sorts (per-partition heaps reduce on the
    driver)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(bpe_ish_tokens("text")).alias("token"))
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        agg.orderBy(F.col("n_occ").desc(), F.col("token").asc())
        .limit(50)
        .select("token", "n_occ", "n_docs")
    )


@query(
    "pretrain_corpus_verdicts",
    oracle=BASE_SQL + f"""
    , prep AS (
      SELECT doc_id, source, lang,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tok,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
      FROM base
    ), scored AS (
      SELECT doc_id, source, lang, n_tok, keep_id,
             {sql_stopword_count('toks')} AS stop_cnt,
             {sql_token_hash("'mix_' || CAST(doc_id AS VARCHAR)")} % 100 AS mix_h,
             CASE lang WHEN 'en' THEN 95 WHEN 'de' THEN 80
                       WHEN 'fr' THEN 80 WHEN 'es' THEN 70 ELSE 0 END AS rate
      FROM prep
    )
    SELECT scored.doc_id, scored.source,
           CASE
             WHEN doc_id <> keep_id THEN 'exact_dup'
             WHEN n_tok < 20 THEN 'too_short'
             WHEN n_tok > 2000 THEN 'too_long'
             WHEN lang = 'zh' THEN 'bad_lang'
             WHEN stop_cnt * 20 < n_tok THEN 'low_quality'
             WHEN mix_h >= rate THEN 'sampled_out'
             ELSE 'kept'
           END AS reason,
           (doc_id = keep_id AND n_tok BETWEEN 20 AND 2000
            AND lang <> 'zh' AND stop_cnt * 20 >= n_tok
            AND mix_h < rate) AS kept,
           CAST(n_tok AS BIGINT) AS n_tokens,
           CAST(FLOOR((n_tok + 511) / 512) AS BIGINT) AS n_chunks
    FROM scored
    """,
    tier="C",
)
def pretrain_corpus_verdicts(spark, sf_dir):
    """The COMPOSED pretraining-data decision layer — every cleaning
    stage a corpus pipeline runs before tokenization, in one plan with
    a per-document verdict and the FIRST failing reason (the funnel
    audit a data team actually materializes):

    1. exact dedup (md5 window-min — the only shuffle, keyed on a
       16-byte hash, text never crosses the exchange);
    2. length gates (20..2000 tokens);
    3. language gate (drop ``zh`` — the pretend latin-script target);
    4. quality gate (stopword ratio >= 5%, integer cross-multiplied —
       no float boundary);
    5. per-language mixture sampling (salted-hash verdict against a
       language rate ladder — reproducible under retry, scan-side);
    plus the downstream bookkeeping (token count, 512-token chunk
    count) packing needs.  Runs on the dup-injected base corpus so the
    dedup stage demonstrably fires.  Everything after the dedup window is
    scan-side codegen; at 100 TB this runs as ONE pass over the
    corpus + one hash-keyed exchange."""
    base = base_corpus(spark, sf_dir)
    toks = tokens(F.col("text"))
    keep_id = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    g = base.select(
        "doc_id",
        "source",
        "lang",
        keep_id.alias("keep_id"),
        F.size(toks).alias("n_tok"),
        stopword_count(toks).alias("stop_cnt"),
        (token_hash(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 100)
        .alias("mix_h"),
    ).withColumn(
        "rate",
        F.when(F.col("lang") == "en", 95)
        .when(F.col("lang").isin("de", "fr"), 80)
        .when(F.col("lang") == "es", 70)
        .otherwise(0),
    )
    not_dup = F.col("doc_id") == F.col("keep_id")
    len_ok = F.col("n_tok").between(20, 2000)
    lang_ok = F.col("lang") != "zh"
    qual_ok = F.col("stop_cnt") * 20 >= F.col("n_tok")
    mix_ok = F.col("mix_h") < F.col("rate")
    reason = (
        F.when(~not_dup, "exact_dup")
        .when(F.col("n_tok") < 20, "too_short")
        .when(F.col("n_tok") > 2000, "too_long")
        .when(~lang_ok, "bad_lang")
        .when(~qual_ok, "low_quality")
        .when(~mix_ok, "sampled_out")
        .otherwise("kept")
    )
    return g.select(
        "doc_id",
        "source",
        reason.alias("reason"),
        (not_dup & len_ok & lang_ok & qual_ok & mix_ok).alias("kept"),
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        F.floor((F.col("n_tok") + 511) / 512).cast("bigint").alias("n_chunks"),
    )


@query(
    "dedup_jaccard_prefix_filter",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 400
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tok GROUP BY token
    ), ordered AS (
      SELECT t.doc_id,
             list(t.token ORDER BY f.df, t.token) AS arr,
             COUNT(*) AS n
      FROM tok t JOIN dfreq f ON t.token = f.token
      GROUP BY t.doc_id
    ), pre AS (
      SELECT doc_id, arr, n,
             CAST(n - FLOOR((7 * n + 9) / 10) + 1 AS BIGINT) AS p
      FROM ordered
    ), pfx AS (
      SELECT doc_id, unnest(arr[1:CAST(p AS INT)]) AS token FROM pre
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM pfx a JOIN pfx b ON a.token = b.token AND a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           CAST(len(list_intersect(x.arr, y.arr)) AS BIGINT) AS inter,
           CAST(x.n + y.n - len(list_intersect(x.arr, y.arr)) AS BIGINT) AS uni
    FROM cand c
    JOIN pre x ON x.doc_id = c.a_id
    JOIN pre y ON y.doc_id = c.b_id
    WHERE len(list_intersect(x.arr, y.arr)) * 10
          >= 7 * (x.n + y.n - len(list_intersect(x.arr, y.arr)))
    """,
    tier="C",
)
def dedup_jaccard_prefix_filter(spark, sf_dir):
    """L2 set-similarity join with PREFIX FILTERING (the
    PPJoin/AllPairs family, Chaudhuri et al. / Xiao et al.) — the
    scale path for token-set Jaccard dedup: order every document's
    distinct tokens by ascending global document frequency (rarest
    first), keep only the first ``n - ceil(t*n) + 1`` as its PREFIX;
    two documents can reach Jaccard >= t ONLY if their prefixes share
    a token, so the candidate join runs on the rare-token prefixes
    instead of all tokens — at 100 TB that turns the candidate volume
    from head-token-quadratic into rare-token-bounded (stop words
    never generate pairs).

    Plan: tokens explode once; the document-frequency table is
    vocabulary-sized and broadcasts; per-doc frequency-ordered arrays
    come from one grouped sort_array (no window); candidates are one
    prefix-token equi-join; verification is a JVM-side
    ``array_intersect`` on the two inlined arrays.  The >= t verdict
    compares ``10*inter >= 7*union`` in INTEGERS — exact in both
    engines, no float boundary.  No-false-negative property vs the
    brute-force all-pairs join is pinned in tests/test_dedup.py."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
    )
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(F.broadcast(dfreq), "token")
    ordered = ranked.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("df"), F.col("token")))
        ).alias("st"),
        F.count(F.lit(1)).alias("n"),
    )
    pre = ordered.select(
        "doc_id",
        F.transform(F.col("st"), lambda x: x.getField("token")).alias("arr"),
        "n",
        (F.col("n") - F.floor((7 * F.col("n") + 9) / 10) + 1)
        .cast("int")
        .alias("p"),
    )
    # the prefix index (one array-row per doc) feeds FOUR plan branches
    # (both self-join sides + both verify sides); without a checkpoint
    # the grouped sort re-runs per branch (plan showed 4x the exchange
    # count).  Lazy localCheckpoint = the standard PPJoin "build the
    # index once" step; GC-reclaimable like operators/global_rank.
    pre = pre.localCheckpoint(eager=False)
    pfx = pre.select(
        "doc_id", F.explode(F.slice(F.col("arr"), 1, F.col("p"))).alias("token")
    )
    cand = (
        pfx.alias("a")
        .join(
            pfx.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    x = pre.select(
        F.col("doc_id").alias("a_id"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("n_a"),
    )
    y = pre.select(
        F.col("doc_id").alias("b_id"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    uni = F.col("n_a") + F.col("n_b") - inter
    return (
        cand.join(x, "a_id")
        .join(y, "b_id")
        .filter(inter * 10 >= 7 * uni)
        .select(
            "a_id",
            "b_id",
            inter.cast("bigint").alias("inter"),
            uni.cast("bigint").alias("uni"),
        )
    )


_CMS_W, _CMS_D = 256, 3


@query(
    "text_cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), toks AS (
      SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS token
      FROM tok, unnest(generate_series(1, len(ts) - 1)) AS t(i)
    ), rs AS (
      SELECT unnest(range(0, {_CMS_D})) AS r
    ), sketch AS (
      SELECT r,
             {sql_token_hash("'cms' || CAST(r AS VARCHAR) || '#' || token")}
               % {_CMS_W} AS pos,
             COUNT(*) AS cnt
      FROM toks CROSS JOIN rs GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT token FROM toks WHERE doc_id < 20
    ), est AS (
      SELECT c.token, MIN(s.cnt) AS est_count
      FROM cand c CROSS JOIN rs
      JOIN sketch s
        ON s.r = rs.r
       AND s.pos = {sql_token_hash("'cms' || CAST(rs.r AS VARCHAR) || '#' || c.token")}
               % {_CMS_W}
      GROUP BY c.token
    ), truth AS (
      SELECT t.token, COUNT(*) AS true_count
      FROM toks t JOIN cand c ON t.token = c.token GROUP BY t.token
    )
    SELECT e.token, e.est_count, tr.true_count,
           e.est_count >= tr.true_count AS overestimates
    FROM est e JOIN truth tr ON e.token = tr.token
    """,
    tier="C",
)
def text_cms_heavy_hitters(spark, sf_dir):
    """L5 count-min sketch (Cormode & Muthukrishnan 2005) — THE
    fixed-memory frequency structure for 100 TB corpora where an exact
    n-gram vocabulary aggregate would shuffle billions of distinct
    keys: d=3 hash rows × w=256 counters over word BIGRAMS (916
    distinct at sf0.01 — deliberately wider than w so the sketch's
    collision semantics are actually exercised), point estimate = min
    over rows, one-sided error (never under-counts).

    Scale shape: the sketch is built with ONE (r,pos)-keyed aggregate
    whose map-side partial combine caps the exchange at d×w = 768
    counter rows per map partition — CONSTANT in corpus size (that is
    the whole point of the sketch); candidate estimation broadcasts
    the 768-row sketch onto the candidate set, no second corpus
    shuffle.  Hashes are md5-derived (functions.text.token_hash) so
    the DuckDB oracle rebuilds the identical sketch; the output
    carries the exact count next to the estimate, so the oracle hash
    also pins the one-sided-error bookkeeping (``overestimates`` must
    be all-true, with real inflation present — property-asserted in
    tests/test_scale.py)."""
    d = widen(t(spark, sf_dir, "documents"))
    grams = shingles(tokens(F.col("text")), 2)
    toks = d.select("doc_id", F.explode(grams).alias("token"))

    def pos(r, tok_col):
        return token_hash(F.concat(F.lit(f"cms{r}#"), tok_col)) % _CMS_W

    # ONE tokenize pass: each occurrence fans out to its d (r,pos)
    # probes via explode — a union of d projections would re-scan and
    # re-shingle the corpus d times (measured 3x the tokenize work at
    # the 3x sniff)
    rp = F.explode(
        F.array(
            *[
                F.struct(F.lit(r).alias("r"), pos(r, F.col("token")).alias("pos"))
                for r in range(_CMS_D)
            ]
        )
    )
    sketch = (
        toks.select(rp.alias("rp"))
        .groupBy(F.col("rp.r").alias("r"), F.col("rp.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    cand = (
        toks.filter(F.col("doc_id") < 20).select("token").distinct()
    )
    probes = cand.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), pos(r, F.col("token")).alias("pos")
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rp"),
    ).select("token", "rp.r", "rp.pos")
    est = (
        probes.join(F.broadcast(sketch), ["r", "pos"])
        .groupBy("token")
        .agg(F.min("cnt").alias("est_count"))
    )
    truth = (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return est.join(truth, "token").select(
        "token",
        "est_count",
        "true_count",
        (F.col("est_count") >= F.col("true_count")).alias("overestimates"),
    )


# ---------------------------------------------------------------------------
# corpus sampling & filtering (the pipeline glue around dedup/scoring)
# ---------------------------------------------------------------------------


@query(
    "sample_hash_det",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {sql_token_hash("'smpl_' || CAST(doc_id AS VARCHAR)")} % 10 = 0
    """,
    tier="C",
)
def sample_hash_det(spark, sf_dir):
    """Deterministic ~10% corpus sample by salted key hash.

    ``rand()``-based sampling is non-reproducible under task retry /
    speculative execution and resamples differently per run; hashing
    the stable key is idempotent, re-runnable, and evaluates at the
    scan as a plain filter (no shuffle, no state).  The salt decouples
    this sample from every other doc_id-hash use.  At 100 TB this is
    THE way to cut dev subsets that stay fixed across reruns."""
    d = t(spark, sf_dir, "documents")
    h = token_hash(F.concat(F.lit("smpl_"), F.col("doc_id").cast("string")))
    return d.filter(h % 10 == 0).select("doc_id", "lang", "source", "n_chars")


@query(
    "sample_stratified_det",
    oracle=f"""
    SELECT source, lang, doc_id, rn FROM (
      SELECT source, lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY {sql_token_hash("'strat_' || CAST(doc_id AS VARCHAR)")} ASC,
                        doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
    tier="C",
)
def sample_stratified_det(spark, sf_dir):
    """Stratified deterministic sampling: exactly 5 docs per
    (source, lang) stratum, chosen by salted-hash order — uniform
    within the stratum yet fully reproducible.  One shuffle on the
    stratum key; the hash order makes the pick independent of storage
    order (doc_id order would bias toward oldest docs)."""
    d = t(spark, sf_dir, "documents")
    h = token_hash(F.concat(F.lit("strat_"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source", "lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("source", "lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


@query(
    "pack_token_budget",
    oracle="""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), run AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM sized
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens,
           (cum_tokens - n_tokens) // 512 AS chunk_id
    FROM run
    """,
    tier="C",
)
def pack_token_budget(spark, sf_dir):
    """Token-budget packing: lay the corpus into a deterministic token
    stream (ordered by doc_id) and assign each document to the 512-token
    training chunk its first token falls in — the sequence-packing
    decision a pretraining data loader materializes.

    The running total comes from ``operators.global_rank.global_cumsum``
    (range partition + per-partition sums + map-side local cumsum) —
    NOT ``SUM() OVER (ORDER BY)``, which Spark plans as one task
    holding the whole corpus.  The oracle IS that single-task SQL
    window, checking the distributed two-pass against the textbook
    definition."""
    from ..operators.global_rank import global_cumsum

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    c = global_cumsum(d, ["doc_id"], "n_tokens", out_col="cum_tokens")
    return c.select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.expr("(cum_tokens - n_tokens) div 512").alias("chunk_id"),
    )


_CHUNK_W, _CHUNK_S = 32, 24


@query(
    "text_chunk_sliding",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 400
    ), base AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= {_CHUNK_W} THEN 1
                  ELSE CAST(CEIL((len(toks) - {_CHUNK_W}) / {_CHUNK_S}.0) AS BIGINT) + 1
             END AS n_chunks
      FROM docs
    ), fan AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, n_chunks - 1)) AS ci
      FROM base
    )
    SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           CAST(len(list_slice(toks, ci * {_CHUNK_S} + 1,
                               ci * {_CHUNK_S} + {_CHUNK_W})) AS INT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, ci * {_CHUNK_S} + 1,
                                          ci * {_CHUNK_S} + {_CHUNK_W}), ' ')) AS chunk_md5
    FROM fan
    """,
    tier="C",
)
def text_chunk_sliding(spark, sf_dir):
    """Sliding-window document chunking (context-window prep for
    training/RAG): each document fans out to overlapping 32-token
    windows at stride 24, the last window keeping its natural shorter
    tail.  Pure built-ins — ``sequence`` + ``explode`` for the fan-out,
    ``slice`` for the window — so the 1→N expansion happens JVM-side
    inside whole-stage codegen with no shuffle at all; at 100 TB this
    is a map-only stage whose output feeds ``pack_token_budget``.
    Chunks are emitted as md5 fingerprints (stable, hashable) rather
    than text to keep the checked surface value-dense."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    n_chunks = F.when(n_tok <= _CHUNK_W, F.lit(1)).otherwise(
        F.ceil((n_tok - F.lit(_CHUNK_W)).cast("double") / _CHUNK_S) + 1
    )
    fan = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("ci"),
    )
    chunk = F.slice(F.col("toks"), F.col("ci") * _CHUNK_S + 1, _CHUNK_W)
    return fan.select(
        "doc_id",
        F.col("ci").cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


@query(
    "sample_mixture_weighted",
    oracle=f"""
    WITH spec AS (
      SELECT doc_id, source,
             [1000, 500, 250, 125][
               CAST({sql_token_hash('source')} % 4 AS INT) + 1] AS permille
      FROM documents
    )
    SELECT source, CAST(ANY_VALUE(permille) AS BIGINT) AS permille,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN
             {sql_token_hash("'mix_' || CAST(doc_id AS VARCHAR)")} % 1000 < permille
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM spec GROUP BY source
    """,
    tier="C",
)
def sample_mixture_weighted(spark, sf_dir):
    """Domain-mixture sampling: each source gets a target sampling rate
    (here a deterministic 1000/500/250/125‰ ladder keyed off the source
    name's hash — in production a broadcast spec table), and documents
    are kept by salted-hash threshold, so the mixture is exactly
    reproducible under retries and independent of storage order — the
    re-weighting step that turns a raw crawl into a training mixture.

    Scan-evaluated per row (hash + compare in codegen, no shuffle
    beyond the final per-source rollup); at 100 TB the verdict column
    would be materialized next to the data, the rollup is audit."""
    d = t(spark, sf_dir, "documents")
    rate_idx = token_hash(F.col("source")) % 4
    permille = F.element_at(
        F.array(F.lit(1000), F.lit(500), F.lit(250), F.lit(125)),
        (rate_idx + 1).cast("int"),
    )
    pick = (
        token_hash(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 1000
        < permille
    )
    return d.select("source", permille.alias("permille"), pick.alias("pick")).groupBy(
        "source"
    ).agg(
        F.first("permille").cast("bigint").alias("permille"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("pick"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
    )


@query(
    "quality_filter_pipeline",
    oracle=BASE_SQL + """
    , gated AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
             len(string_split(text, ' ')) AS n
      FROM base
    )
    SELECT doc_id,
           CASE WHEN doc_id <> keep_id THEN 'exact_dup'
                WHEN n < 20 THEN 'too_short'
                WHEN n > 2000 THEN 'too_long'
                ELSE 'kept' END AS reason,
           (doc_id = keep_id AND n BETWEEN 20 AND 2000) AS kept
    FROM gated
    """,
    tier="C",
)
def quality_filter_pipeline(spark, sf_dir):
    """Composed cleaning pass (the C4-style funnel): exact-dup removal
    (md5 window min — survivor is the smallest id, one 16-byte-keyed
    shuffle) then length gates, emitting a per-document verdict with
    the FIRST failing reason.  This is the decision layer a training
    pipeline materializes before tokenization; downstream stages filter
    on ``kept`` and audit the funnel by grouping on ``reason``."""
    base = base_corpus(spark, sf_dir)
    n = F.size(tokens(F.col("text")))
    keep_id = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    g = base.select(
        "doc_id", keep_id.alias("keep_id"), n.alias("n")
    )
    reason = (
        F.when(F.col("doc_id") != F.col("keep_id"), "exact_dup")
        .when(F.col("n") < 20, "too_short")
        .when(F.col("n") > 2000, "too_long")
        .otherwise("kept")
    )
    kept = (F.col("doc_id") == F.col("keep_id")) & F.col("n").between(20, 2000)
    return g.select("doc_id", reason.alias("reason"), kept.alias("kept"))


@query(
    "quality_repetition_gopher",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g2 AS (
      SELECT doc_id,
             unnest(list_transform({sql_shingles('toks', 2)},
                                   s -> {sql_token_hash('s')})) AS g
      FROM tk
    ), c2 AS (
      SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g
    ), a2 AS (
      SELECT doc_id, MAX(c) AS mx2, CAST(SUM(c) AS BIGINT) AS tot2
      FROM c2 GROUP BY doc_id
    ), g5 AS (
      SELECT doc_id,
             unnest(list_transform({sql_shingles('toks', 5)},
                                   s -> {sql_token_hash('s')})) AS g
      FROM tk
    ), c5 AS (
      SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g
    ), a5 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup5,
             CAST(SUM(c) AS BIGINT) AS tot5
      FROM c5 GROUP BY doc_id
    )
    SELECT a2.doc_id,
           {sql_hround('mx2 * 1.0 / tot2', 4)} AS top2_frac,
           {sql_hround('dup5 * 1.0 / tot5', 4)} AS dup5_frac,
           (5 * mx2 >= tot2) AS flag_top2,
           (10 * dup5 >= 3 * tot5) AS flag_dup5
    FROM a2 JOIN a5 USING (doc_id)
    """,
    tier="C",
)
def quality_repetition_gopher(spark, sf_dir):
    """L5 repetition-based quality filters (the Gopher/MassiveText
    rules): per document, the fraction of 2-gram occurrences taken by
    the single most frequent 2-gram (boilerplate/listing detector) and
    the fraction of 5-gram occurrences belonging to repeated 5-grams
    (internal duplication detector).  Flags use integer
    cross-multiplied thresholds (top-2-gram ≥ 1/5, dup-5-gram ≥ 3/10)
    so no float comparison can flip between engines.

    Scale shape: one explode per n, partial-agg groupBy on
    (doc_id, gram) then doc_id — map-side combine soaks the heavy
    first key; no self-joins, no windows over the corpus.  Grams
    travel as 8-byte md5-derived hashes (the dedup family's payload
    discipline), identically hashed in the oracle, so the exchange is
    fixed-width regardless of n."""
    d = widen(t(spark, sf_dir, "documents"))

    def gram_counts(n: int):
        g = d.select(
            "doc_id",
            F.explode(
                F.transform(shingles(tokens(F.col("text")), n), token_hash)
            ).alias("g"),
        )
        return g.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))

    a2 = gram_counts(2).groupBy("doc_id").agg(
        F.max("c").alias("mx2"), F.sum("c").alias("tot2")
    )
    a5 = gram_counts(5).groupBy("doc_id").agg(
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup5"),
        F.sum("c").alias("tot5"),
    )
    j = a2.join(a5, "doc_id")
    return j.select(
        "doc_id",
        hround(F.col("mx2") * F.lit(1.0) / F.col("tot2"), 4).alias("top2_frac"),
        hround(F.col("dup5") * F.lit(1.0) / F.col("tot5"), 4).alias("dup5_frac"),
        (5 * F.col("mx2") >= F.col("tot2")).alias("flag_top2"),
        (10 * F.col("dup5") >= 3 * F.col("tot5")).alias("flag_dup5"),
    )


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               {sql_shingles("string_split(text, ' ')", 8)},
               s -> {sql_token_hash('s')}))) AS h
      FROM documents
    ), bench AS (
      SELECT doc_id AS bench_id, h FROM sh WHERE doc_id % 97 = 0
    ), train AS (
      SELECT doc_id, h FROM sh WHERE doc_id % 97 <> 0
    )
    SELECT t.doc_id,
           COUNT(DISTINCT t.h) AS n_shared,
           COUNT(DISTINCT b.bench_id) AS n_bench_docs
    FROM train t JOIN bench b ON t.h = b.h
    GROUP BY t.doc_id
    """,
    tier="C",
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Test-set decontamination (the C4/GPT-3 hygiene pass): training
    documents sharing any 8-gram with a held-out benchmark set (here:
    every 97th doc stands in for the eval set) are reported with how
    many distinct 8-grams leak and how many benchmark docs they hit.

    Scale shape: the benchmark side is a tiny fraction of the corpus,
    so its hashed 8-gram set is BROADCAST — the full training corpus
    never shuffles; 8-grams travel as 8-byte md5-derived hashes (the
    same payload discipline as the dedup family), and the per-doc
    distinct explode bounds the map output."""
    d = widen(t(spark, sf_dir, "documents"))
    sh8 = F.array_distinct(
        F.transform(shingles(tokens(F.col("text")), 8), token_hash)
    )
    bench = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), F.explode(sh8).alias("h")
    )
    train = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.explode(sh8).alias("h")
    )
    hits = train.join(F.broadcast(bench), "h")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("h").alias("n_shared"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), tot AS (
      SELECT COUNT(*) AS n FROM tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           FLOOR(CAST(CAST(SUM(CAST(-ln(c * 1.0 / n) AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS avg_nll
    FROM tok JOIN freq USING (w), tot
    GROUP BY doc_id
    """,
    tier="C",
)
def text_unigram_logprob(spark, sf_dir):
    """CCNet-style LM quality proxy: average negative log-probability
    of each document under the corpus's own unigram distribution —
    gibberish and boilerplate land at the distribution's tails, which
    is the bucketing signal CCNet uses for quality tiers.

    Scale shape: one explode + vocab groupBy; the vocabulary and the
    one-row total are BROADCAST back onto the token stream, so the
    scoring join never shuffles the corpus.  Per-token -ln(p) is
    identical IEEE math in both engines; the per-doc mean goes through
    the decimal-exact sum so reduction order cannot flip the hash."""
    d = widen(t(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    nll = -F.log(F.col("c") * F.lit(1.0) / F.col("n"))
    scored = tok.join(F.broadcast(freq), "w").crossJoin(F.broadcast(tot))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        hround(
            F.sum(nll.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_nll"),
    )


@query(
    "curriculum_percentile",
    oracle="""
    WITH scored AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), r AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rk,
             COUNT(*) OVER () AS n
      FROM scored
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           FLOOR((rk - 1) * 1.0 / (n - 1) * 1000000.0 + 0.5) / 1000000.0 AS pct
    FROM r
    """,
    tier="C",
)
def curriculum_percentile(spark, sf_dir):
    """Curriculum ordering: every document's exact global percentile
    under a difficulty proxy (token count here; any score plugs in) —
    the easy-to-hard ordering signal curriculum-learning data loaders
    consume.  Exact percent_rank at scale via the two-pass global rank
    (operators.global_rank) — the oracle's ROW_NUMBER() OVER (ORDER
    BY) is the single-task definition it replaces."""
    from ..operators.global_rank import global_row_number_and_total

    scored = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    ranked, total = global_row_number_and_total(
        scored, ["n_tokens", "doc_id"], None, "rk"
    )
    pct = (F.col("rk") - 1) * F.lit(1.0) / F.lit(float(total - 1))
    return ranked.select("doc_id", "n_tokens", hround(pct, 6).alias("pct"))


@query(
    "text_pmi_bigrams",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), bi AS (
      SELECT unnest({sql_shingles('tk', 2)}) AS bigram FROM toks
    ), uni AS (
      SELECT unnest(tk) AS w FROM toks
    ), cb AS (
      SELECT bigram, COUNT(*) AS c_ab FROM bi GROUP BY bigram
    ), cu AS (
      SELECT w, COUNT(*) AS c_w FROM uni GROUP BY w
    ), tot AS (
      SELECT (SELECT COUNT(*) FROM uni) AS n_uni,
             (SELECT COUNT(*) FROM bi) AS n_bi
    )
    SELECT bigram, c_ab,
           {sql_hround('ln(CAST(c_ab AS DOUBLE) * CAST(n_uni AS DOUBLE)'
                       ' * CAST(n_uni AS DOUBLE) / (CAST(n_bi AS DOUBLE)'
                       ' * CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE)))', 4)} AS pmi
    FROM cb
    JOIN cu a ON a.w = split_part(bigram, ' ', 1)
    JOIN cu b ON b.w = split_part(bigram, ' ', 2)
    CROSS JOIN tot
    WHERE c_ab >= 10
    ORDER BY pmi DESC, bigram ASC LIMIT 20
    """,
    tier="C",
)
def text_pmi_bigrams(spark, sf_dir):
    """L5 collocation mining: top-20 bigrams by pointwise mutual
    information (min count 10) — the corpus statistic behind
    multi-word vocab entries and tokenizer merges.

    Three token-keyed aggregates (bigram, unigram, totals) + two
    broadcast-sized joins back; counts stay integers end-to-end and
    the single log expression is written identically in both engines
    (left-associated IEEE products), so no decimal routing is needed.
    The unigram join side is a vocabulary — orders of magnitude
    smaller than the corpus, broadcast at any scale."""
    d = t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    bi = d.select(F.explode(shingles(toks, 2)).alias("bigram"))
    uni = d.select(F.explode(toks).alias("w"))
    cb = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    tot = uni.agg(F.count(F.lit(1)).alias("n_uni")).crossJoin(
        bi.agg(F.count(F.lit(1)).alias("n_bi"))
    )
    a = cu.select(F.col("w").alias("w1"), F.col("c_w").alias("ca"))
    b = cu.select(F.col("w").alias("w2"), F.col("c_w").alias("cb"))
    pmi = F.log(
        F.col("c_ab").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
        / (
            F.col("n_bi").cast("double")
            * F.col("ca").cast("double")
            * F.col("cb").cast("double")
        )
    )
    return (
        cb.filter(F.col("c_ab") >= 10)
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .withColumn("w2", F.substring_index("bigram", " ", -1))
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(tot))
        .select("bigram", "c_ab", hround(pmi, 4).alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("bigram").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# multimodal plumbing (L6)
# ---------------------------------------------------------------------------


@query(
    "multimodal_decode_stub",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_kind,
             encode(text) AS payload,
             -- sha256(VARCHAR) hashes the UTF-8 bytes == sha256(payload)
             sha256(text) AS payload_sha
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, media_kind,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN octet_length(payload) > 0
                THEN 16 * (strpos('0123456789abcdef',
                                  substr(lower(hex(payload)), 1, 1)) - 1)
                   + (strpos('0123456789abcdef',
                             substr(lower(hex(payload)), 2, 1)) - 1)
                ELSE -1 END AS INT) AS first_byte,
           substr(payload_sha, 1, 16) AS content_id
    FROM src
    """,
    tier="C",
)
def multimodal_decode_stub(spark, sf_dir):
    """L6 multimodal columns: documents gain an opaque binary payload +
    typed metadata struct; a mapInPandas stage 'decodes' each batch
    (real decoder stubbed — no image/audio libs in this container; the
    Arrow batch shape, schema and partitioning are the real thing).

    Every output column is a deterministic function of the payload
    bytes (length, first byte, sha256 content id), so the whole Arrow
    round trip — binary column in, typed batch out — is value-hashed
    against the oracle's byte arithmetic, not just row-counted."""
    from ..operators.multimodal import attach_fake_payload, decode_batches

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    with_bin = attach_fake_payload(d)
    return decode_batches(with_bin)


@query(
    "multimodal_decode_real",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
      FROM documents WHERE doc_id < 400
    ), px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS j
      FROM dims
    ), ch AS (
      SELECT doc_id, w, h,
             (doc_id * 7 + (3 * j) * 13) % 256     AS r,
             (doc_id * 7 + (3 * j + 1) * 13) % 256 AS g,
             (doc_id * 7 + (3 * j + 2) * 13) % 256 AS b
      FROM px
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS format,
           CAST(ANY_VALUE(w) AS INT) AS width,
           CAST(ANY_VALUE(h) AS INT) AS height,
           CAST(SUM(r) AS DOUBLE) / COUNT(*) AS mean_r,
           CAST(SUM(g) AS DOUBLE) / COUNT(*) AS mean_g,
           CAST(SUM(b) AS DOUBLE) / COUNT(*) AS mean_b
    FROM ch GROUP BY doc_id
    """,
    tier="C",
)
def multimodal_decode_real(spark, sf_dir):
    """L6 REAL image decode (round 5 — the seam is no longer a stub
    for dependency-free formats): deterministic PPM-P6 / 24-bpp-BMP
    payloads are synthesized per document (sample ``i`` of doc ``d``
    is ``(d*7 + i*13) % 256``; even ids PPM, odd ids BMP with
    bottom-up BGR rows and 4-byte padding), then an Arrow-batched
    mapInPandas stage parses the actual file headers and rasters in
    pure Python — width, height and per-channel means out.  The
    DuckDB oracle recomputes every statistic from the generating
    arithmetic, so a hash match proves BOTH encoders and the decoder
    (channel order, row flip, padding skip) end to end.
    ``NotImplementedError`` now remains only for codec formats
    (JPEG/video)."""
    from ..operators.multimodal import decode_images, synthesize_image_payloads

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return decode_images(synthesize_image_payloads(d))


@query(
    "multimodal_image_dims",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                WHEN 2 THEN 'jpeg-progressive' ELSE 'ppm' END AS format,
           CAST(2 + doc_id % 13 AS INT) AS width,
           CAST(1 + doc_id % 11 AS INT) AS height,
           CAST(CASE doc_id % 4 WHEN 0 THEN 32 WHEN 1 THEN 24
                WHEN 2 THEN 8 ELSE 24 END AS INT) AS color_depth
    FROM documents WHERE doc_id < 400
    """,
    tier="C",
)
def multimodal_image_dims(spark, sf_dir):
    """L6 codec-format image headers: JPEG (SOF0 baseline + SOF2
    progressive, walking real marker segments past APP0) and PNG
    (IHDR, bit-depth × color-type channels) dimensions parsed from
    HEADER bytes alone — pure Python, no codec, which is exactly what
    dims-stats curation (aspect/size filters, resolution curricula)
    needs over a 100 TB media column whose rasters would need PIL.
    Fixtures are structurally valid files (real PNG CRCs, real JFIF
    APP0 segment to skip) with dims from doc_id arithmetic, so the
    oracle recomputes width/height/depth relationally; full raster
    decode stays PPM/BMP-only (``multimodal_decode_real``).  Damage
    tolerance (truncated/corrupt headers → 'unsupported' rows, never
    task death) is bytes-fuzz-pinned in tests/test_multimodal.py."""
    from ..operators.multimodal import image_dims, synthesize_header_payloads

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return image_dims(synthesize_header_payloads(d))


@query(
    "multimodal_web_image_dims",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 17 = 0 THEN 'unsupported'
                ELSE CASE doc_id % 7
                     WHEN 0 THEN 'gif87a' WHEN 1 THEN 'gif89a'
                     WHEN 2 THEN 'webp-vp8x' WHEN 3 THEN 'webp-vp8l'
                     WHEN 4 THEN 'webp-vp8' WHEN 5 THEN 'tiff-le'
                     ELSE 'tiff-be' END END AS format,
           CASE WHEN doc_id % 17 = 0 THEN NULL
                ELSE CAST(3 + doc_id % 12 AS INT) END AS width,
           CASE WHEN doc_id % 17 = 0 THEN NULL
                ELSE CAST(2 + doc_id % 9 AS INT) END AS height,
           CASE WHEN doc_id % 17 = 0 THEN NULL
                ELSE CAST(CASE doc_id % 7
                     WHEN 0 THEN 1 + doc_id % 8
                     WHEN 1 THEN 1 + doc_id % 8
                     WHEN 2 THEN CASE WHEN doc_id % 2 = 0 THEN 32 ELSE 24 END
                     WHEN 3 THEN CASE WHEN doc_id % 2 = 1 THEN 32 ELSE 24 END
                     WHEN 4 THEN 24
                     WHEN 5 THEN 8 * (1 + doc_id % 3)
                     ELSE 16 * (1 + doc_id % 2) END AS INT) END AS color_depth
    FROM documents WHERE doc_id < 400
    """,
    tier="C",
)
def multimodal_web_image_dims(spark, sf_dir):
    """L6 WEB-format image headers (round 12 — the formats a crawl's
    media column is actually full of beyond JPEG/PNG): GIF87a/GIF89a
    (Logical Screen Descriptor LE dims + packed global-color-table
    bits → palette depth) and all three WebP chunk grammars — VP8X
    extended (24-bit canvas dims minus one + alpha flag), VP8L
    lossless (signature byte + packed 14-bit bitfield), VP8 lossy
    (keyframe start code + 14-bit LE dims) — plus TIFF in BOTH byte
    orders (BOM dispatch, IFD entry walk, SHORT/LONG inline values,
    BitsPerSample x SamplesPerPixel depth) — parsed from HEADER bytes
    alone via the same RIFF chunk walk the audio parser uses, pure
    Python, Arrow-batched, single pass, no shuffle.  Fixtures include
    a truncation damage arm (every 17th payload cut to 8 bytes →
    'unsupported' rows with NULL dims, never task death); dims, depth
    and damage are doc_id arithmetic, so the oracle recomputes all of
    it relationally."""
    from ..operators.multimodal import (
        image_dims,
        synthesize_web_image_payloads,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return image_dims(synthesize_web_image_payloads(d))


_AU_RATE = (
    "CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 "
    "WHEN 2 THEN 22050 ELSE 44100 END"
)


@query(
    "multimodal_audio_meta",
    oracle=f"""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'wav-pcm' WHEN 1 THEN 'flac'
                ELSE 'unsupported' END AS format,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE CAST(1 + doc_id % 2 AS INT) END AS channels,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE CAST({_AU_RATE} AS INT) END AS sample_rate,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE CAST(8 * (1 + (doc_id % 7) % 3) AS INT) END AS bits,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE CAST(1 + doc_id % 500 AS BIGINT) END AS n_frames,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE CAST(((1 + doc_id % 500) * 1000) // ({_AU_RATE})
                     AS BIGINT) END AS duration_ms
    FROM documents WHERE doc_id < 400
    """,
    tier="C",
)
def multimodal_audio_meta(spark, sf_dir):
    """L6 audio-container headers (round 10 — ``image_dims`` for the
    audio column): WAV/RIFF chunk walk (fmt tag, channels, rate,
    bits, data-size/block frame count) and FLAC STREAMINFO bit
    unpacking (rate 20 bits, channels-1, bits-1, total samples 36
    bits) in pure Python over Arrow batches — duration/rate/channel
    curation filters (speech pipelines gate on exactly these) never
    need a PCM decode.  One fixture arm is a CORRUPT RIFF, so the
    per-row 'unsupported' damage path is oracle-checked, not just
    fuzzed; duration is integer-floor ms (exact both engines).
    Truncation/garbage byte-fuzz never-raise is pinned in
    tests/test_multimodal.py."""
    from ..operators.multimodal import audio_meta, synthesize_audio_payloads

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return audio_meta(synthesize_audio_payloads(d))


_VID_TS = (
    "CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000 "
    "WHEN 2 THEN 90000 ELSE 48000 END"
)


@query(
    "multimodal_video_meta",
    oracle=f"""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'mp4' WHEN 1 THEN 'mkv'
                ELSE 'unsupported' END AS format,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE CAST(16 * (1 + doc_id % 80) AS INT) END AS width,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE CAST(16 * (1 + doc_id % 45) AS INT) END AS height,
           CASE doc_id % 3 WHEN 0 THEN CAST({_VID_TS} AS BIGINT)
                WHEN 1 THEN CAST(1000000 AS BIGINT)
                ELSE NULL END AS timescale,
           CASE doc_id % 3
                WHEN 0 THEN CAST(((1 + doc_id % 100000) * 1000)
                                 // ({_VID_TS}) AS BIGINT)
                WHEN 1 THEN CAST(1 + doc_id % 100000 AS BIGINT)
                ELSE NULL END AS duration_ms
    FROM documents WHERE doc_id < 400
    """,
    tier="C",
)
def multimodal_video_meta(spark, sf_dir):
    """L6 video-container headers (round 11 — the last header-walkable
    modality, closing the VERDICT r10 missing list): MP4/ISO-BMFF box
    walk (``moov/mvhd`` timescale + duration in v0/v1 layouts, first
    ``trak/tkhd`` 16.16 presentation dims, 64-bit largesize and
    to-end box sizes handled) and MKV/EBML vint walk (Segment → Info
    TimestampScale/Duration, Tracks → TrackEntry → Video PixelWidth/
    PixelHeight, unknown-size live-capture Segments) in pure Python
    over Arrow batches — resolution buckets and clip-length gates need
    only the container tables, never a frame decode or ffmpeg.  One
    fixture arm is a corrupt moov whose declared size overflows the
    buffer, so the per-row 'unsupported' quarantine is oracle-checked;
    duration is integer-floor ms (exact both engines: MP4 by integer
    arithmetic, MKV by integer-valued doubles at the default 1e6
    scale).  Truncation byte-fuzz never-raise is pinned in
    tests/test_multimodal.py."""
    from ..operators.multimodal import synthesize_video_payloads, video_meta

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return video_meta(synthesize_video_payloads(d))


@query(
    "multimodal_feature_pipeline",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, lower(hex(encode(text))) AS h
      FROM documents WHERE doc_id < 100
    ),
    nib AS (
      -- byte mod 16 == value of the byte's low hex nibble, i.e. the
      -- character at every even (1-based) position of hex(utf8-bytes)
      SELECT doc_id, h, unnest(generate_series(1, length(h) // 2)) AS i
      FROM docs
    ),
    cnts AS (
      SELECT doc_id,
             strpos('0123456789abcdef', substr(h, 2 * i, 1)) - 1 AS dim,
             COUNT(*) AS cnt
      FROM nib GROUP BY 1, 2
    ),
    grid AS (
      SELECT d.doc_id, g.dim
      FROM docs d, (SELECT unnest(generate_series(0, 15)) AS dim) g
    ),
    tot AS (SELECT doc_id, SUM(cnt) AS total FROM cnts GROUP BY doc_id)
    SELECT g.doc_id,
           CAST(g.dim AS INT) AS dim,
           COALESCE(c.cnt, 0) AS cnt,
           {sql_hround("CASE WHEN t.total > 0 THEN CAST(COALESCE(c.cnt, 0) AS DOUBLE) / t.total ELSE NULL END", 6)} AS frac
    FROM grid g
    LEFT JOIN cnts c ON g.doc_id = c.doc_id AND g.dim = c.dim
    LEFT JOIN tot t ON g.doc_id = t.doc_id
    """,
    tier="C",
)
def multimodal_feature_pipeline(spark, sf_dir):
    """L6 media → embedding pipeline: binary payload → byte-histogram
    feature vector over Arrow batches (the deterministic fake at the
    encoder seam), then unpivoted JVM-side to driver-hashable scalars
    (doc_id, dim, cnt, frac).  The mapInPandas stage emits raw bucket
    counts (exact in float32); the normalized fraction is computed as
    a double division outside the UDF so Spark and the DuckDB oracle
    agree bit-for-bit.  Array-shaped output asserted in
    tests/test_multimodal.py."""
    from ..operators.multimodal import attach_fake_payload, extract_features

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    feats = extract_features(attach_fake_payload(d), dim=16, normalize=False)
    ex = feats.select("doc_id", F.posexplode("features").alias("dim", "f"))
    cnt = F.col("f").cast("long")
    total = F.sum(cnt).over(Window.partitionBy("doc_id"))
    return ex.select(
        "doc_id",
        F.col("dim").cast("int").alias("dim"),
        cnt.alias("cnt"),
        hround(
            F.when(total > 0, cnt.cast("double") / total), 6
        ).alias("frac"),
    )


@query(
    "multimodal_phash_near_dup",
    oracle="""
    WITH docs AS (
      SELECT doc_id, lower(hex(encode(text))) AS h
      FROM documents WHERE doc_id < 400
    ),
    nib AS (
      SELECT doc_id, h, unnest(generate_series(1, length(h) // 2)) AS i
      FROM docs
    ),
    cnts AS (
      -- byte value = 16*hi + lo nibble; byte % 32 = 16*(hi%2) + lo
      SELECT doc_id,
             16 * ((strpos('0123456789abcdef', substr(h, 2 * i - 1, 1)) - 1) % 2)
               + (strpos('0123456789abcdef', substr(h, 2 * i, 1)) - 1) AS dim,
             COUNT(*) AS cnt
      FROM nib GROUP BY 1, 2
    ),
    ph AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN cnt % 2 = 1 THEN (1 << dim) ELSE 0 END)
                  AS BIGINT) AS phash
      FROM cnts GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, phash, b.b, (phash >> (8 * b.b)) & 255 AS bv
      FROM ph CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) b
    ),
    cand AS (
      SELECT DISTINCT pa.doc_id AS a_id, pb.doc_id AS b_id,
             pa.phash AS a_ph, pb.phash AS b_ph
      FROM bands pa JOIN bands pb
        ON pa.b = pb.b AND pa.bv = pb.bv AND pa.doc_id < pb.doc_id
    )
    SELECT a_id, b_id,
           CAST(bit_count(xor(a_ph, b_ph)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(a_ph, b_ph)) <= 6
    """,
    tier="C",
)
def multimodal_phash_near_dup(spark, sf_dir):
    """L6 fingerprint near-duplicate detection over binary media
    payloads — the image-dedup shape (pHash family): decode → coarse
    feature histogram (the Arrow-batched mapInPandas stand-in for a
    real decoder) → one PARITY bit per bucket → 32-bit fingerprint →
    banded LSH join (4 bands × 8 bits) for candidates → exact Hamming
    verify via ``bit_count(xor)``.

    Parity bits, not the classic above-mean bits: with text-shaped
    fake payloads every document shares its language's byte
    distribution, so mean-threshold bits are near-identical corpus-
    wide and the "near-dup" set degenerates to all-pairs (measured:
    73 k of 80 k possible pairs).  A parity bit flips on ANY ±1
    change to its bucket, so a small payload edit moves ≤ 2·edits
    bits while unrelated payloads land ~16 apart — the fingerprint
    separates the replica structure the documents table actually
    contains.  A real pHash (DCT of a 32×32 grayscale) slots into the
    same mapInPandas seam with the identical downstream plan.

    Scale shape: fingerprint and band keys are map-side columns; the
    only shuffle is the band-bucket equi-join (never all-pairs), and
    the Hamming verify is integer codegen on the candidate set — the
    same blocked-verify discipline as the MinHash and SimHash paths."""
    from ..operators.multimodal import attach_fake_payload, extract_features

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    feats = extract_features(attach_fake_payload(d), dim=32, normalize=False)
    import functools as _ft

    farr = F.transform(F.col("features"), lambda x: x.cast("long"))
    base = feats.select("doc_id", farr.alias("f"))
    phash = _ft.reduce(
        lambda x, y: x + y,
        [
            F.when(
                F.element_at(F.col("f"), i + 1) % 2 == 1, F.lit(1 << i)
            ).otherwise(F.lit(0))
            for i in range(32)
        ],
    ).cast("bigint")
    ph = base.select("doc_id", phash.alias("phash"))
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("phash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "phash", F.col("bb.b").alias("b"), F.col("bb.bv").alias("bv"))
    cand = (
        bands.alias("pa")
        .join(
            bands.alias("pb"),
            (F.col("pa.b") == F.col("pb.b"))
            & (F.col("pa.bv") == F.col("pb.bv"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("a_id"),
            F.col("pb.doc_id").alias("b_id"),
            F.col("pa.phash").alias("a_ph"),
            F.col("pb.phash").alias("b_ph"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("a_ph").bitwiseXOR(F.col("b_ph")))
    return cand.select(
        "a_id", "b_id", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= 6)


_BLOOM_M, _BLOOM_K = 4096, 3


@query(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH seeds AS (
      SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS s
    ), docs AS (
      SELECT doc_id, md5(text) AS dg FROM documents
    ), seen AS (
      SELECT DISTINCT dg FROM docs WHERE doc_id % 7 = 0
    ), bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(dg || '#' || CAST(s.s AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_BLOOM_M} AS pos
      FROM seen CROSS JOIN seeds s
    ), cand AS (
      SELECT d.doc_id, d.dg, s.s,
             CAST(('0x' || substr(md5(d.dg || '#' || CAST(s.s AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_BLOOM_M} AS pos
      FROM docs d CROSS JOIN seeds s
    ), hits AS (
      SELECT c.doc_id, ANY_VALUE(c.dg) AS dg, COUNT(b.pos) AS nhit
      FROM cand c LEFT JOIN bits b ON c.pos = b.pos
      GROUP BY c.doc_id
    )
    SELECT h.doc_id,
           h.nhit = {_BLOOM_K} AS maybe_dup,
           (h.dg IN (SELECT dg FROM seen)) AS actual_dup
    FROM hits h
    """,
    tier="C",
)
def dedup_bloom_prefilter(spark, sf_dir):
    """L1 Bloom-filter dedup prefilter — the cheap first stage of
    cross-crawl dedup at 100 TB: the previous crawl's digest ledger
    (here docs with ``doc_id % 7 == 0``) is folded into an m=4096,
    k=3 Bloom bit-set; the corpus scan then flags each document
    definitely-new vs maybe-seen with ZERO shuffle of the corpus —
    only maybe-seen rows (a few % with a sized filter) proceed to the
    exact-join verify.  The guarantee that makes this sound is
    no-false-negatives: ``actual_dup ⇒ maybe_dup`` (pinned in
    tests/test_dedup.py).

    The bit-set is a model artifact: built with one tiny job over the
    ledger, collected (≤ m positions), and packed into the TEXTBOOK
    Bloom representation — m/64 = 64 longs inlined as one literal
    array; membership per probe is ``(word >> bit) & 1``: O(K) work
    per row (round 4 used ``array_contains`` over the position list —
    O(M·K); VERDICT r4 nit).  At real scale the literal array becomes
    a broadcast ``spark.util.sketch.BloomFilter`` (or SQL
    ``bloom_filter_agg``) — same two-job shape, same scan-side
    verdict; hashes here are md5-derived so the DuckDB oracle can
    recompute every bit (the oracle keeps its positional-join form —
    the REPRESENTATION is engine-side, the bits are identical).

    Output carries the ground truth next to the sketch verdict, so
    the oracle check also verifies the false-positive bookkeeping."""
    import functools as _ft

    d = t(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("dg"))

    def positions(dg_col):
        return [
            token_hash(F.concat(dg_col, F.lit(f"#{s}"))) % _BLOOM_M
            for s in range(_BLOOM_K)
        ]

    seen = d.filter(F.col("doc_id") % 7 == 0)
    bit_rows = (
        seen.select(F.explode(F.array(*positions(F.col("dg")))).alias("pos"))
        .distinct()
        .collect()
    )
    words = [0] * (_BLOOM_M // 64)
    for r in bit_rows:
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    # two's-complement into signed 64-bit longs (bit 63 → negative)
    packed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    words_lit = F.expr("array(" + ",".join(f"{w}L" for w in packed) + ")")

    def member(p):
        word = F.element_at(
            words_lit, F.call_function("shiftright", p, F.lit(6)).cast("int") + 1
        )
        bit = (p % 64).cast("int")
        return (
            F.call_function("shiftright", word, bit).bitwiseAND(F.lit(1)) == 1
        )

    maybe = _ft.reduce(
        lambda x, y: x & y, [member(p) for p in positions(F.col("dg"))]
    )
    marker = seen.select("dg").distinct().withColumn("__seen", F.lit(1))
    return (
        d.alias("dd")
        .join(F.broadcast(marker.alias("mk")), "dg", "left")
        .select(
            F.col("doc_id"),
            maybe.alias("maybe_dup"),
            F.col("__seen").isNotNull().alias("actual_dup"),
        )
    )


@query(
    "text_bigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), uni AS (
      SELECT w, COUNT(*) AS c1
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ), bi AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM tok, unnest(generate_series(1, len(toks) - 1)) AS t(i)
    ), cnt AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
    )
    SELECT bi.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(CAST(CAST(SUM(CAST(-ln(c12 * 1.0 / c1) AS DECIMAL(18,6)))
                 AS DOUBLE) / COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS avg_nll
    FROM bi
    JOIN cnt ON bi.w1 = cnt.w1 AND bi.w2 = cnt.w2
    JOIN uni ON bi.w1 = uni.w
    GROUP BY bi.doc_id
    """,
    tier="C",
)
def text_bigram_logprob(spark, sf_dir):
    """Bigram-LM document scoring — one order up from
    ``text_unigram_logprob`` toward the 5-gram KenLM CCNet actually
    uses: each document's mean −ln p(w2|w1) under the corpus's own
    bigram MLE (p = c(w1 w2)/c(w1); in-corpus scoring means every
    bigram has support, so no smoothing branch).  Single-token
    documents have no bigrams and drop out — both engines agree by
    construction.

    Scale shape: bigrams ride as the same shingle strings the dedup
    family hashes; the bigram table and vocabulary are aggregates
    BROADCAST back onto the gram stream (a fixed external LM would be
    a broadcast model file), so the corpus itself shuffles only for
    the two count aggregations.  The per-token −ln is identical IEEE
    libm math in both engines at double precision; the per-doc mean
    routes through the decimal-exact sum."""
    d = widen(t(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    grams = d.select(
        "doc_id", F.explode(shingles(toks, 2)).alias("g")
    ).select(
        "doc_id",
        "g",
        F.substring_index(F.col("g"), " ", 1).alias("w1"),
    )
    cnt = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c12"))
    uni = d.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c1")
    )
    nll = -F.log(F.col("c12") * F.lit(1.0) / F.col("c1"))
    scored = grams.join(F.broadcast(cnt), "g").join(
        F.broadcast(uni), grams["w1"] == uni["w"]
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        hround(
            F.sum(nll.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_nll"),
    )


@query(
    "sample_temperature_sources",
    oracle=f"""
    WITH cnts AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ), w AS (
      SELECT source, n,
             CAST({sql_hround('POWER(n, 0.7)', 6)} AS DECIMAL(18,6)) AS w6
      FROM cnts
    ), z AS (
      SELECT SUM(w6) AS z, SUM(n) AS ntot FROM w
    ), rates AS (
      SELECT w.source, w.n,
             CAST(FLOOR(LEAST(1.0,
               (CAST(w.w6 AS DOUBLE) / CAST(z.z AS DOUBLE))
                 * CAST((z.ntot + 1) // 2 AS DOUBLE) / w.n)
               * 1000000.0 + 0.5) AS BIGINT) AS rate_micro
      FROM w CROSS JOIN z
    )
    SELECT d.source,
           CAST(ANY_VALUE(r.n) AS BIGINT) AS n_total,
           ANY_VALUE(r.rate_micro) AS rate_micro,
           CAST(SUM(CASE WHEN
             {sql_token_hash("'temp_' || CAST(d.doc_id AS VARCHAR)")} % 1000000
               < r.rate_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN rates r ON d.source = r.source
    GROUP BY d.source
    """,
    tier="C",
)
def sample_temperature_sources(spark, sf_dir):
    """Temperature-scaled source sampling (the multilingual-LM α=0.7
    recipe: sample source s with probability ∝ n_s^α, upweighting
    small sources) at a 50%-of-corpus doc budget.  The per-source
    rates are a MODEL ARTIFACT: one tiny count aggregate is
    collected, the α-power shares and micro-rate thresholds are
    computed on the driver (same IEEE pow/divide the oracle runs, the
    share normalizer summed in exact DECIMAL so source order can't
    perturb it), and the keep verdict is a salted-hash threshold
    evaluated in the scan — reproducible under retries, no shuffle of
    the corpus beyond the audit rollup."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from .helpers import py_hround

    d = t(spark, sf_dir, "documents")
    cnt_rows = d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    ns = {r["source"]: int(r["n"]) for r in cnt_rows}
    ntot = sum(ns.values())
    m_target = (ntot + 1) // 2
    w6 = {
        s: Decimal(py_hround(math.pow(n, 0.7), 6)).quantize(
            Decimal("0.000001"), ROUND_HALF_UP
        )
        for s, n in ns.items()
    }
    z = sum(w6.values())
    spec_rows = []
    for s, n in ns.items():
        rate = min(1.0, (float(w6[s]) / float(z)) * float(m_target) / n)
        thr = int(math.floor(rate * 1000000.0 + 0.5))
        spec_rows.append((s, n, thr))
    spec = spark.createDataFrame(
        spec_rows, "source string, n_total bigint, rate_micro bigint"
    )
    keep = (
        token_hash(F.concat(F.lit("temp_"), F.col("doc_id").cast("string"))) % 1000000
        < F.col("rate_micro")
    )
    return (
        d.join(F.broadcast(spec), "source")
        .groupBy("source")
        .agg(
            F.first("n_total").alias("n_total"),
            F.first("rate_micro").alias("rate_micro"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        )
    )


from ..operators.pca import sql_power_iteration_scores  # noqa: E402


@query(
    "emb_power_iteration",
    oracle=sql_power_iteration_scores(iters=2),
    tier="C",
)
def emb_power_iteration(spark, sf_dir):
    """Leading principal direction by power iteration (un-centered
    Gram-matrix PCA) — the dimensionality-reduction primitive for
    whitening / OPQ / embedding-health probes.  Two iterations: each
    is a map-only inlined-direction projection plus a matrix-vector
    aggregate whose exchange carries 64 decimal sums, the direction
    round-tripping through the driver as a model artifact (the
    Lloyd/k-means discipline).  Output: every vector's projection on
    the final direction."""
    from ..operators.pca import power_iteration_scores

    return power_iteration_scores(t(spark, sf_dir, "embeddings"), iters=2)


@query(
    "text_bpe_learn_merges",
    oracle=__import__(
        "webarchive_indexing_spark.operators.bpe", fromlist=["sql_bpe_learn_merges"]
    ).sql_bpe_learn_merges(n_merges=3, doc_limit=300),
    tier="C",
)
def text_bpe_learn_merges(spark, sf_dir):
    """BPE tokenizer training (Sennrich et al. 2016), distributed:
    learn the corpus's first 3 merge rules.  Per round: one explode +
    aggregate over the DISTINCT-WORD list (vocabulary-sized shuffle,
    never the raw token stream), a 1-row argmax to the driver, and a
    map-side guarded string replace whose left-to-right non-overlap
    semantics are exactly greedy-leftmost BPE — identical in DuckDB,
    which is what lets an iterative tokenizer trainer be value-hashed
    end-to-end.  Output is the merge table a tokenizer ships."""
    from ..operators.bpe import bpe_learn_merges

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return bpe_learn_merges(d, n_merges=3)


@query(
    "text_bpe_encode_ids",
    oracle=__import__(
        "webarchive_indexing_spark.operators.bpe", fromlist=["sql_bpe_encode_ids"]
    ).sql_bpe_encode_ids(n_merges=3, learn_limit=300, encode_limit=200),
    tier="C",
)
def text_bpe_encode_ids(spark, sf_dir):
    """BPE ENCODE — the tokenizer's serving half, applied after
    ``text_bpe_learn_merges`` learns the table: every document's
    words run the learned guarded-replace chain in merge-rank order
    and emit token-id sequences (a-z → 0..25, merge k → 25+k),
    order-preserving, dash-joined per doc for engine-neutral
    hashing.  This is the pass that touches every corpus byte in a
    real pipeline; the merge table is a model artifact (3 rows of
    literals inside one scan-side projection — no join, no Python),
    so encoding costs one scan plus the per-doc regroup.  The oracle
    RE-LEARNS the same table relationally and applies the identical
    chain + id CASE, so learn∘encode is value-hashed end to end."""
    from ..operators.bpe import bpe_encode, bpe_learn_merges

    d = t(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_learn_merges(
            d.filter(F.col("doc_id") < 300), n_merges=3
        ).collect()
    ]
    return bpe_encode(d.filter(F.col("doc_id") < 200), merges)


#: byte-level BPE fixture: the shared corpus text is pure lowercase
#: ASCII, so a deterministic suffix plants what the GPT-2 grammar
#: exists for — a contraction, an em-dash, accented multi-byte UTF-8,
#: a comma, digits — identically derived in both engines.
_BPE_BYTE_SUFFIX = " Don't—naïve café, 123!"


@query(
    "text_bpe_byte_level",
    oracle=__import__(
        "webarchive_indexing_spark.operators.bpe", fromlist=["sql_bpe_byte_level"]
    ).sql_bpe_byte_level(
        n_merges=4,
        learn_limit=300,
        encode_limit=200,
        text_sql="text || ' Don''t—naïve café, 123!'",
    ),
    tier="C",
)
def text_bpe_byte_level(spark, sf_dir):
    """BYTE-LEVEL BPE learn∘encode (round 10 — the GPT-2 tokenizer
    shape): pretokens from the real byte-level grammar
    (``BYTE_PRETOKEN_RE``: contractions, space-attached letter/digit/
    punctuation runs; Java∩RE2 subset documented at the constant) and
    a 256-symbol BYTE base alphabet via hex rendering — so the
    planted suffix's apostrophe, em-dash, two-byte UTF-8 accents and
    digits all train and encode with no out-of-alphabet fallback,
    which is the byte-level guarantee real tokenizers rely on.  Four
    merges learned on doc_id < 300, every doc < 200 encoded to ids
    (byte value 0..255, merge k → 255+k), order-preserving.  The
    oracle RE-LEARNS the table relationally and applies the identical
    chain, so learn∘encode is value-hashed end to end."""
    from ..operators.bpe import bpe_encode_bytes, bpe_learn_merges_bytes

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(_BPE_BYTE_SUFFIX)).alias("text"),
    )
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_learn_merges_bytes(
            d.filter(F.col("doc_id") < 300), n_merges=4
        ).collect()
    ]
    return bpe_encode_bytes(d.filter(F.col("doc_id") < 200), merges)


@query(
    "graph_pagerank_iterations",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    edges AS (
      SELECT doc_id AS src, dst FROM (
        SELECT doc_id, unnest([
          (doc_id * 13 + 7) % (SELECT n FROM n),
          (doc_id * 29 + 3) % (SELECT n FROM n),
          (doc_id * 7 + 1) % (SELECT n FROM n)
        ]) AS dst
        FROM documents
      )
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (
      SELECT doc_id AS node, CAST(1.0 AS DOUBLE) / n.n AS r
      FROM documents CROSS JOIN n
    ),
    c1 AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(r0.r / deg.outdeg AS DECIMAL(28,14))) AS DOUBLE) AS m
      FROM edges e
      JOIN r0 ON e.src = r0.node
      JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT r0.node,
             0.15 / n.n + 0.85 * COALESCE(c1.m, CAST(0.0 AS DOUBLE)) AS r
      FROM r0 LEFT JOIN c1 ON r0.node = c1.node CROSS JOIN n
    ),
    c2 AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(r1.r / deg.outdeg AS DECIMAL(28,14))) AS DOUBLE) AS m
      FROM edges e
      JOIN r1 ON e.src = r1.node
      JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT r1.node,
             0.15 / n.n + 0.85 * COALESCE(c2.m, CAST(0.0 AS DOUBLE)) AS r
      FROM r1 LEFT JOIN c2 ON r1.node = c2.node CROSS JOIN n
    )
    SELECT node, FLOOR(r * 100000000.0 + 0.5) / 100000000.0 AS rank
    FROM r2
    """,
    tier="C",
)
def graph_pagerank_iterations(spark, sf_dir):
    """PageRank, two damped iterations over a deterministic link graph
    (3 out-edges per page derived from doc_id — the host/page
    reputation signal crawl prioritization and quality weighting use;
    a real archive builds the same edges from href extraction).

    Scale shape — the part that matters at a billion nodes: the rank
    vector is DATA, not a driver artifact; each iteration is one
    equi-join of edges⋈ranks (both partitioned by src — at scale
    co-partitioned/bucketed so the adjacency never re-shuffles) plus a
    groupBy(dst) whose exchange carries (node, partial-sum) pairs.
    Contribution sums route through DECIMAL so in-link arrival order
    cannot perturb the hash; everything else is identical IEEE
    arithmetic in both engines."""
    d = t(spark, sf_dir, "documents")
    # metadata-sized; the oracle computes the same COUNT.  It cannot
    # ride the deg aggregate (VERDICT r4 suggestion): n parameterizes
    # the EDGE formula itself (% n), so it must exist before any edge
    # — and as a driver literal it keeps the %-expressions codegen.
    n = d.count()
    doc = F.col("doc_id")
    edges = d.select(
        doc.alias("src"),
        F.explode(
            F.array(
                (doc * 13 + 7) % n, (doc * 29 + 3) % n, (doc * 7 + 1) % n
            )
        ).alias("dst"),
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = d.select(doc.alias("node"), (F.lit(1.0) / n).alias("r"))
    for _ in range(2):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("r") / F.col("outdeg")).cast("decimal(28,14)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("m"))
        )
        ranks = (
            ranks.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(0.15) / n
                    + F.lit(0.85) * F.coalesce(F.col("m"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select(
        "node", hround(F.col("r"), 8).alias("rank")
    )


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             FLOOR((-ln((CAST({sql_token_hash("'es_' || CAST(doc_id AS VARCHAR)")}
                         % 1000000 AS DOUBLE) + 0.5) / 1000000.0) / n_chars)
                   * 100000000.0 + 0.5) / 100000000.0 AS k
      FROM documents
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, k AS priority
    FROM keyed ORDER BY k ASC, doc_id ASC LIMIT 200
    """,
    tier="C",
)
def sample_weighted_priority(spark, sf_dir):
    """Weighted sampling WITHOUT replacement at any scale — the
    Efraimidis-Spirakis priority trick (keys ``-ln(u)/w`` are
    exponential with rate w; the k smallest keys are exactly a
    w-weighted sample): the mixture-sampling primitive when weights
    are per-DOCUMENT (length, quality score) instead of per-source
    rates.  Deterministic u from a salted hash, so the sample is
    reproducible under retries; the whole job is a scan-side key
    projection + TakeOrderedAndProject — no shuffle, k rows out.
    Per-row ln/divide is identical IEEE libm math in both engines,
    rounded to 8 dp before ranking (ties broken by doc_id)."""
    d = t(spark, sf_dir, "documents")
    u = (
        (
            token_hash(F.concat(F.lit("es_"), F.col("doc_id").cast("string")))
            % 1000000
        ).cast("double")
        + 0.5
    ) / 1000000.0
    key = hround(-F.log(u) / F.col("n_chars"), 8)
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            key.alias("priority"),
        )
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(200)
    )


@query(
    "text_mojibake_score",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0
                  THEN replace(text, 'e', 'Ã©') ELSE text END AS text
      FROM documents
    ), scored AS (
      SELECT doc_id, source, length(text) AS n_chars,
             (length(text) - length(replace(text, 'Ã©', ''))) / 2 AS n_bad_pair,
             (length(text) - length(replace(text, 'Ã', ''))) AS n_lead
      FROM corpus
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_lead > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           FLOOR(CAST(SUM(CAST(n_bad_pair * 1000.0 / n_chars
                               AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_permille
    FROM scored GROUP BY source
    """,
    tier="C",
)
def text_mojibake_score(spark, sf_dir):
    """L5 encoding-damage QA — the cleaning signal the length/stopword
    quality filters miss: double-encoded UTF-8 ("Ã©" where "é" was
    meant, the classic UTF-8-read-as-Latin-1 corruption that pollutes
    real web crawls).  The fixture corrupts every 7th document
    deterministically (e → Ã© — identical replace in both engines);
    the detector counts mojibake lead bytes and scores marker density
    per mille, aggregated per source (the granularity a pipeline acts
    on: drop or re-decode a feed, not a document).

    Scale shape: pure scan-side string arithmetic — marker counts via
    length-difference (no regex, so no engine dialect seams), one
    partial-aggregated groupBy on the low-cardinality source key;
    nothing but (source, counts) ever shuffles.  Density mean rides
    the decimal-exact path (helpers.dsum discipline)."""
    d = widen(t(spark, sf_dir, "documents"))
    text = F.when(
        F.col("doc_id") % 7 == 0, F.expr("replace(text, 'e', 'Ã©')")
    ).otherwise(F.col("text"))
    scored = d.select(
        "source",
        F.length(text).alias("n_chars"),
        (
            (F.length(text) - F.length(F.replace(text, F.lit("Ã©"), F.lit(""))))
            / 2
        ).alias("n_bad_pair"),
        (F.length(text) - F.length(F.replace(text, F.lit("Ã"), F.lit("")))).alias(
            "n_lead"
        ),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_lead") > 0).cast("int")).cast("bigint").alias("n_flagged"),
        hround(
            F.sum(
                (F.col("n_bad_pair") * 1000.0 / F.col("n_chars")).cast(
                    "decimal(18,6)"
                )
            ).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_permille"),
    )


@query(
    "decontaminate_containment",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 30000 AS doc_id,
             text || ' padding tokens appended for containment fixture' AS text
      FROM documents WHERE doc_id % 97 = 0
      UNION ALL
      SELECT doc_id + 40000 AS doc_id,
             array_to_string(string_split(text, ' ')[1:14], ' ')
               || ' short quote padding tokens appended for containment fixture'
               AS text
      FROM documents WHERE doc_id % 97 = 0
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               {sql_shingles("string_split(text, ' ')", 8)},
               s -> {sql_token_hash('s')}))) AS h
      FROM corpus
    ), bench AS (
      SELECT doc_id AS bench_id, h FROM sh WHERE doc_id % 97 = 0
    ), bsize AS (
      SELECT bench_id, COUNT(*) AS n_bench FROM bench GROUP BY bench_id
    ), train AS (
      SELECT doc_id, h FROM sh WHERE doc_id % 97 <> 0
    ), shared AS (
      SELECT t.doc_id, b.bench_id, COUNT(DISTINCT t.h) AS n_shared
      FROM train t JOIN bench b ON t.h = b.h
      GROUP BY t.doc_id, b.bench_id
    )
    SELECT s.doc_id, s.bench_id, s.n_shared,
           FLOOR(s.n_shared * 10000.0 / z.n_bench + 0.5) / 10000.0
             AS containment,
           CASE WHEN s.n_shared * 1.0 / z.n_bench >= 0.8 THEN 'leaked'
                ELSE 'partial' END AS verdict
    FROM shared s JOIN bsize z USING (bench_id)
    """,
    tier="C",
)
def decontaminate_containment(spark, sf_dir):
    """Asymmetric n-gram CONTAINMENT decontamination — the refinement
    of ``decontaminate_ngram_overlap`` real eval-hygiene pipelines
    use: a training doc is 'leaked' when it contains MOST of a
    benchmark doc (|grams(t) ∩ grams(b)| / |grams(b)| ≥ 0.8), which
    catches short benchmark items quoted inside long training pages —
    symmetric Jaccard dilutes exactly those.  Fixture: every 97th doc
    is the benchmark set; injected +30000 training docs embed a full
    benchmark doc plus padding (containment 1.0 by construction) and
    +40000 docs QUOTE only the benchmark doc's first 14 tokens (7
    shared 8-grams over a much larger benchmark gram set → partial),
    so both verdict classes appear and the threshold direction is
    pinned.

    Scale shape: same broadcast discipline as the overlap query — the
    benchmark gram set AND its per-doc sizes are benchmark-sized
    (tiny) broadcasts; the training corpus contributes 8-byte hashed
    grams to one pair-grouped partial aggregation, and only matched
    (train, bench) pairs ever shuffle.  The containment division is
    driver-free arithmetic, half-up-rounded identically in both
    engines."""
    d = t(spark, sf_dir, "documents")
    injected = d.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" padding tokens appended for containment fixture"),
        ).alias("text"),
    )
    quoted = d.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 40000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(tokens(F.col("text")), 1, 14), " "),
            F.lit(
                " short quote padding tokens appended for containment fixture"
            ),
        ).alias("text"),
    )
    corpus = widen(
        d.select("doc_id", "text").unionByName(injected).unionByName(quoted)
    )
    sh8 = F.array_distinct(
        F.transform(shingles(tokens(F.col("text")), 8), token_hash)
    )
    grams = corpus.select("doc_id", F.explode(sh8).alias("h"))
    bench = grams.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    bsize = bench.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_bench"))
    train = grams.filter(F.col("doc_id") % 97 != 0)
    shared = (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.countDistinct("h").alias("n_shared"))
    )
    frac = F.col("n_shared") * 1.0 / F.col("n_bench")
    return shared.join(F.broadcast(bsize), "bench_id").select(
        "doc_id",
        "bench_id",
        "n_shared",
        (F.floor(F.col("n_shared") * 10000.0 / F.col("n_bench") + 0.5) / 10000.0)
        .alias("containment"),
        F.when(frac >= 0.8, "leaked").otherwise("partial").alias("verdict"),
    )


# --- round 8: PII scrubbing + blocklist curation ---------------------------

#: dialect-shared PII patterns (Java regex AND RE2: no lookarounds, no
#: named groups — the same string drives Spark's regexp_* and DuckDB's)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_PHONE = r"\+[0-9]{7,}"


def _pii_text_sql() -> str:
    """Deterministic PII injection shared by both engines: synthetic
    corpus text carries no real PII, so emails / IPv4s / phone numbers
    derive from doc_id the same way the CDX derivation does."""
    return """
      text ||
      CASE WHEN doc_id % 7 = 0
           THEN ' reach me at user' || doc_id || '@mail'
                || (doc_id % 5) || '.example.com'
           ELSE '' END ||
      CASE WHEN doc_id % 11 = 0
           THEN ' from 10.' || (doc_id % 256) || '.'
                || ((doc_id * 3) % 256) || '.' || (1 + doc_id % 200)
           ELSE '' END ||
      CASE WHEN doc_id % 13 = 0
           THEN ' call +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE '' END
    """


def _pii_text_col() -> object:
    doc = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            doc % 7 == 0,
            F.concat(
                F.lit(" reach me at user"), doc.cast("string"),
                F.lit("@mail"), (doc % 5).cast("string"),
                F.lit(".example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc % 11 == 0,
            F.concat(
                F.lit(" from 10."), (doc % 256).cast("string"), F.lit("."),
                ((doc * 3) % 256).cast("string"), F.lit("."),
                (1 + doc % 200).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc % 13 == 0,
            F.concat(
                F.lit(" call +1555"),
                F.lpad((doc % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )


@query(
    "text_pii_redact",
    oracle=f"""
    WITH pii AS (
      SELECT source, doc_id, {_pii_text_sql()} AS ptext FROM documents
    ), red AS (
      SELECT source,
             length(regexp_extract_all(ptext, '{PII_EMAIL}')) AS n_email,
             length(regexp_extract_all(ptext, '{PII_IPV4}')) AS n_ip,
             length(regexp_extract_all(ptext, '{PII_PHONE}')) AS n_phone,
             md5(regexp_replace(regexp_replace(regexp_replace(ptext,
                 '{PII_EMAIL}', '<EMAIL>', 'g'),
                 '{PII_IPV4}', '<IP>', 'g'),
                 '{PII_PHONE}', '<PHONE>', 'g')) AS rmd5
      FROM pii
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS n_email,
           CAST(SUM(n_ip) AS BIGINT) AS n_ip,
           CAST(SUM(n_phone) AS BIGINT) AS n_phone,
           MIN(rmd5) AS min_md5, MAX(rmd5) AS max_md5
    FROM red GROUP BY source
    """,
    tier="C",
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing [north-star: training-data compliance pass]:
    detect and redact emails / IPv4s / phone numbers with
    dialect-shared regexes (no lookarounds — the same pattern string
    drives Spark's Java engine and the RE2 oracle), replacing each
    class with a typed placeholder.  The synthetic corpus carries no
    real PII, so deterministic doc_id-derived PII is injected
    identically in both engines; the per-source md5 extrema pin the
    REDACTED text byte-for-byte, not just the counts.

    Scale shape: detection counts and the 3-stage redaction are all
    scan-side codegen projections (regexp_extract_all /
    regexp_replace); only (source, counts, md5) rows cross the single
    partial-aggregated exchange — raw text never shuffles."""
    d = t(spark, sf_dir, "documents")
    ptext = _pii_text_col()
    red = F.md5(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(ptext, PII_EMAIL, "<EMAIL>"),
                PII_IPV4,
                "<IP>",
            ),
            PII_PHONE,
            "<PHONE>",
        )
    )
    n = lambda pat: F.size(F.regexp_extract_all(ptext, F.lit(pat), F.lit(0)))  # noqa: E731
    return (
        d.select(
            "source",
            n(PII_EMAIL).alias("n_email"),
            n(PII_IPV4).alias("n_ip"),
            n(PII_PHONE).alias("n_phone"),
            red.alias("rmd5"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("n_email"),
            F.sum("n_ip").alias("n_ip"),
            F.sum("n_phone").alias("n_phone"),
            F.min("rmd5").alias("min_md5"),
            F.max("rmd5").alias("max_md5"),
        )
    )


_BLOCKLIST_RULES = [
    ("org,example,src4", "block"),
    ("org,example,src4)/doc/44", "allow"),
    ("org,example,src14", "exclude"),
]


def _blocklist_oracle() -> str:
    from ..operators.cdx_query import sql_acl_access

    verdict = sql_acl_access("urlkey", _BLOCKLIST_RULES)
    return f"""
    WITH keyed AS (
      SELECT source,
             'org,example,' || source || ')/doc/' || doc_id AS urlkey
      FROM documents
    ), judged AS (
      SELECT source, {verdict} AS verdict FROM keyed
    )
    SELECT source, verdict, COUNT(*) AS n_docs
    FROM judged GROUP BY source, verdict
    """


@query(
    "docs_url_blocklist_verdicts",
    oracle=_blocklist_oracle(),
    tier="C",
)
def docs_url_blocklist_verdicts(spark, sf_dir):
    """URL-blocklist curation [north-star: C4/RefinedWeb domain
    filtering]: the SAME longest-prefix ACL chain that serves pywb
    access control doubles as a training-data domain filter — a
    blocklisted subtree (src4, with one doc carved back), an excluded
    host (src14), default-allow elsewhere.  One scan-side CASE-chain
    verdict projection + one partial-aggregated rollup; no text, no
    joins — curation lists of thousands of domains stay a scan cost
    (operators.cdx_query.apply_acl shape, minus the exclude-drop so
    the report shows every verdict class)."""
    from ..operators.cdx_query import sql_acl_access

    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "source",
        F.concat(
            F.lit("org,example,"), F.col("source"), F.lit(")/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("urlkey"),
    )
    judged = keyed.withColumn(
        "verdict", F.expr(sql_acl_access("urlkey", _BLOCKLIST_RULES))
    )
    return judged.groupBy("source", "verdict").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "quality_linear_classifier",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(list_sum(list_transform(string_split(text, ' '),
               t -> ({sql_token_hash('t')} % 4096) % 997 - 498))
               AS BIGINT) AS score_int
      FROM documents
    )
    SELECT doc_id, source, score_int,
           {sql_hround('1.0 / (1.0 + exp(-score_int / 10000.0))', 6)} AS p_keep,
           CASE WHEN score_int >= 0 THEN 'keep' ELSE 'drop' END AS verdict
    FROM scored
    """,
    tier="C",
)
def quality_linear_classifier(spark, sf_dir):
    """Linear quality-classifier scoring [north-star: fastText-style
    keep/drop models (CCNet, DCLM, FineWeb-Edu run exactly this shape
    over their corpora)]: hashed bag-of-words features × a weight
    table → logistic keep probability.  The weights here derive
    deterministically from the feature bucket (so the DuckDB twin can
    re-derive them); a real model's weights ride as a broadcast
    array/map literal in the same plan slot — the SHAPE is what
    scales.

    Scale design: per-token weights accumulate INSIDE the scan via
    ``F.aggregate`` over the token array — integer-exact (weights are
    1e-4 rationals summed as bigints; the single float op happens once
    per document on the exact integer, then hround pins cross-engine
    repr), zero exchanges, zero joins, no tokenizer shuffle.  100 TB
    cost = one pass over the corpus bytes."""
    from ..functions.text import token_hash, tokens

    d = t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    w = lambda tok: F.pmod(token_hash(tok), F.lit(4096)) % 997 - 498  # noqa: E731
    score = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, tok: acc + w(tok)
    )
    scored = d.select("doc_id", "source", score.alias("score_int"))
    p = hround(1.0 / (1.0 + F.exp(-F.col("score_int") / 10000.0)), 6)
    return scored.select(
        "doc_id",
        "source",
        "score_int",
        p.alias("p_keep"),
        F.when(F.col("score_int") >= 0, "keep").otherwise("drop").alias("verdict"),
    )


#: trained quality classifier geometry — shared by the Spark plan and
#: the DuckDB twin so the engines cannot drift.
_QC_XCOLS = ["x0", "x1", "x2", "x3", "x4", "x5", "x6"]
_QC_ITERS = 17
_QC_LR = 8.0
_QC_TRAIN = 400

#: dialect-shared feature projection (Spark selectExpr ≡ DuckDB SELECT
#: body modulo integer-division spelling, handled via {idiv_*}): exact
#: decimals from integer arithmetic — bias, stopword ratio, mean token
#: length / 10, capped length fraction — plus the integer quality gate
#: label (the text_quality_score heuristic re-used as a weak label).
#: every feature is re-cast to DECIMAL(8,4) (values are ratios ≤ 1, so
#: the cast is exact): Spark caps decimals at precision 38 and a
#: DECIMAL(18,6) weight × DECIMAL(21,4) feature product would cross it,
#: silently REDUCING scale (allowPrecisionLoss) while DuckDB keeps the
#: exact product — the one place the two engines' decimal algebras
#: diverge.  8+18+1 = 27 stays exact everywhere.
_QC_FEAT_COLS = [
    "doc_id",
    "CAST(1.0 AS DECIMAL(8,4)) AS x0",
    "CAST(CAST({idiv_stop} AS DECIMAL(14,0)) "
    "* CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(8,4)) AS x1",
    "CAST(CAST({idiv_sl} AS DECIMAL(14,0)) "
    "* CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(8,4)) AS x2",
    "CAST(CAST(LEAST(n, 2000) * 5 AS DECIMAL(14,0)) "
    "* CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(8,4)) AS x3",
    # deficit features — the standard quality-signal shapes (a doc
    # below the stopword floor, too short, or overlong is suspect);
    # they are 0 exactly when the corresponding gate clause holds, so
    # the trainer can learn NEGATIVE weights that actually separate
    # (all-positive ratio features cannot beat the majority class)
    "CAST(CAST({idiv_x4} AS DECIMAL(14,0)) "
    "* CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(8,4)) AS x4",
    "CAST(CAST(GREATEST(0, 20 - n) * 500 AS DECIMAL(14,0)) "
    "* CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(8,4)) AS x5",
    "CAST(CAST(LEAST(GREATEST(0, n - 2000), 2000) * 5 AS DECIMAL(14,0)) "
    "* CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(8,4)) AS x6",
    "CAST(CASE WHEN n BETWEEN 20 AND 2000 AND 100 * stop >= 2 * n "
    "THEN 1 ELSE 0 END AS INT) AS y",
]


def _qc_sql() -> str:
    from ..operators.logreg import sql_logistic_ctes

    feat_body = ", ".join(_QC_FEAT_COLS).format(
        idiv_stop="(10000 * stop) // GREATEST(n, 1)",
        idiv_sl="(1000 * sl) // GREATEST(n, 1)",
        idiv_x4="(10000 * GREATEST(0, 2 * n - 100 * stop)) // GREATEST(2 * n, 1)",
    )
    ctes, wfin = sql_logistic_ctes(
        "tr", _QC_XCOLS, "y", iters=_QC_ITERS, lr=_QC_LR
    )
    from ..operators.logreg import fast_sigmoid6_sql

    zs = " + ".join(f"w.w{j} * f.{x}" for j, x in enumerate(_QC_XCOLS))
    p = fast_sigmoid6_sql(zs)
    parts = [
        "base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)",
        f"""ints AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
             CAST({sql_stopword_count('toks')} AS BIGINT) AS stop,
             CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sl
      FROM base
    )""",
        f"feat AS MATERIALIZED (SELECT {feat_body} FROM ints)",
        f"tr AS MATERIALIZED (SELECT * FROM feat WHERE doc_id < {_QC_TRAIN})",
        *ctes,
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT doc_id, label, score, score >= 0.5 AS pred FROM (
      SELECT f.doc_id, f.y AS label, {p} AS score
      FROM feat f CROSS JOIN {wfin} w
    )
    """
    )


@query("quality_classifier_trained", oracle=_qc_sql(), tier="C")
def quality_classifier_trained(spark, sf_dir):
    """TRAINED quality classifier (round 10 — the lang-id train∘apply
    pattern applied to the keep/drop GLM): logistic-shaped weights
    LEARNED relationally via ``_QC_ITERS - 1`` full-batch gradient
    steps (``operators/logreg.logistic_train`` — per step one scan +
    a d-decimal exchange, the lloyd_train cost shape), from w = 0 on
    the doc_id < 400 slice against the integer quality-gate weak
    label, then every document scored with the trained weights.  The
    link is the RATIONAL fast sigmoid (only correctly-rounded IEEE
    ops — ``exp`` is 1-ulp-loose and engine-dependent, unacceptable
    once it feeds further training steps); features are exact
    decimals from integer arithmetic.  The oracle re-derives the SAME
    weight updates as chained CTEs, so the hash match proves
    train ∘ score end to end — no fixed weights anywhere.

    100 TB: training cost = iters × one pass over the precomputed
    scalar feature columns (``len(_QC_XCOLS)`` of them — text never
    re-tokenizes per step if the feature frame is checkpointed);
    scoring is one map-side pass; the model is d = ``len(_QC_XCOLS)``
    floats (x0 is the constant-1 bias feature)."""
    from ..operators.logreg import (
        fast_sigmoid6_sql,
        logistic_train,
        z_sql,
    )

    base = t(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    toks = F.col("tk")
    n = F.size(toks).cast("bigint")
    sl = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    stop = stopword_count(toks).cast("bigint")
    ints = base.select(
        "doc_id", n.alias("n"), stop.alias("stop"), sl.alias("sl")
    )
    feat = ints.selectExpr(
        *[
            c.format(
                idiv_stop="div(10000 * stop, GREATEST(n, 1))",
                idiv_sl="div(1000 * sl, GREATEST(n, 1))",
                idiv_x4="div(10000 * GREATEST(0, 2 * n - 100 * stop), "
                "GREATEST(2 * n, 1))",
            )
            for c in _QC_FEAT_COLS
        ]
    )
    # persist the d+1 scalar feature columns: every gradient step
    # re-reads THIS frame, not the text — without it each of the
    # iters-1 jobs would re-tokenize the corpus (the checkpoint-the-
    # features discipline any iterative trainer needs at 100 TB)
    feat = feat.persist()
    w = logistic_train(
        feat.filter(F.col("doc_id") < _QC_TRAIN),
        _QC_XCOLS,
        "y",
        iters=_QC_ITERS,
        lr=_QC_LR,
    )
    p = fast_sigmoid6_sql(z_sql(w, _QC_XCOLS))
    # CAST: Spark types `x / 1000000.0` as DECIMAL division (decimal
    # literal), DuckDB as DOUBLE — same exact 6-dp value either way,
    # but the driver compares type classes
    scored = feat.selectExpr(
        "doc_id", "y AS label", f"CAST(({p}) AS DOUBLE) AS score"
    )
    return scored.selectExpr(
        "doc_id", "label", "score", "score >= 0.5 AS pred"
    )


#: BM25 free parameters (Robertson/Okapi defaults) and the demo query.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "window", "filter", "batch")


def _bm25_sql() -> str:
    """DuckDB twin of text_bm25_topk — generated from the same term
    list and constants so the two engines cannot drift."""
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{q}')) AS tf_{q}"
        for q in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{q} > 0 THEN 1 ELSE 0 END) AS df_{q}"
        for q in _BM25_TERMS
    )
    term = " + ".join(
        f"(ln((n - df_{q} + 0.5) / (df_{q} + 0.5) + 1.0) * "
        f"(tf_{q} * {_BM25_K1 + 1.0}) / "
        f"(tf_{q} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / (sdl / n))))"
        for q in _BM25_TERMS
    )
    any_tf = " + ".join(f"tf_{q}" for q in _BM25_TERMS)
    return f"""
    WITH base AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl, {tf_cols}
      FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) AS sdl,
             {df_cols}
      FROM base
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS dl,
           CAST({any_tf} AS BIGINT) AS tf_total,
           FLOOR(({term}) * 10000.0 + 0.5) / 10000.0 AS score
    FROM base, stats
    WHERE {any_tf} > 0
    ORDER BY score DESC, doc_id
    LIMIT 15
    """


@query("text_bm25_topk", oracle=_bm25_sql(), tier="C")
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-k retrieval [public: Robertson et al., the
    default ranking function of Lucene/Elasticsearch] over the
    documents table for a fixed term set — the lexical-retrieval
    primitive of RAG/decontamination tooling, expressed with ZERO
    wide shuffles:

    * per-term tf and doclen are SCAN-SIDE array expressions
      (``size(filter(tokens, x = q))``) — no explode, no shuffle;
    * corpus stats (N, Σdl for avgdl, per-term document frequency)
      reduce to ONE row in a single partial-aggregated pass and are
      broadcast back via a literal cross join;
    * idf/tf saturation is the same written-order IEEE-double
      expression in both engines (hround(4) absorbs ulp wobble);
    * top-k compiles to TakeOrderedAndProject (plan-asserted) — no
      global sort at any scale.

    Two corpus scans total; everything between them is one-row.  At
    100 TB the term list is the only thing that grows the expression
    (linearly), never the shuffle."""
    d = widen(t(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))

    def tf_col(term: str):
        # NB: the lambda must stay single-argument — PySpark treats a
        # two-arg higher-order-function lambda as (element, INDEX)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = d.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_col(q).alias(f"tf_{q}") for q in _BM25_TERMS],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("dl").cast("decimal(18,6)")).cast("double").alias("sdl"),
        *[
            F.sum((F.col(f"tf_{q}") > 0).cast("int")).alias(f"df_{q}")
            for q in _BM25_TERMS
        ],
    )
    n, sdl = F.col("n"), F.col("sdl")
    score = None
    for q in _BM25_TERMS:
        tf, dfq = F.col(f"tf_{q}"), F.col(f"df_{q}")
        idf = F.log((n - dfq + 0.5) / (dfq + 0.5) + 1.0)
        term = idf * (tf * (_BM25_K1 + 1.0)) / (
            tf + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / (sdl / n))
        )
        score = term if score is None else score + term
    tf_total = sum(F.col(f"tf_{q}") for q in _BM25_TERMS[1:]) + F.col(
        f"tf_{_BM25_TERMS[0]}"
    )
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(tf_total > 0)
        .select(
            "doc_id",
            F.col("dl").cast("bigint").alias("dl"),
            tf_total.cast("bigint").alias("tf_total"),
            hround(score, 4).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(15)
    )


#: DSIR feature space: hashed word-bigram buckets + add-1 smoothing.
_DSIR_BUCKETS = 8192


def _dsir_sql() -> str:
    from ..functions.text import sql_shingles, sql_token_hash

    grams = sql_shingles("string_split(text, ' ')", 2)
    return f"""
    WITH g AS (
      SELECT doc_id, source,
             {sql_token_hash('unnest(' + grams + ')')} % {_DSIR_BUCKETS} AS b
      FROM documents
    ), tgt AS (
      SELECT b, COUNT(*) AS c FROM g WHERE source = 'src1' GROUP BY b
    ), raw AS (
      SELECT b, COUNT(*) AS c FROM g WHERE source <> 'src1' GROUP BY b
    ), tot AS (
      SELECT (SELECT COUNT(*) FROM g WHERE source = 'src1') AS t,
             (SELECT COUNT(*) FROM g WHERE source <> 'src1') AS r
    ), lr AS (
      SELECT b.b,
             ln((COALESCE(tgt.c, 0) + 1.0) / (tot.t + {_DSIR_BUCKETS}))
               - ln((COALESCE(raw.c, 0) + 1.0) / (tot.r + {_DSIR_BUCKETS})) AS lr
      FROM (SELECT DISTINCT b FROM g) b
      LEFT JOIN tgt ON b.b = tgt.b LEFT JOIN raw ON b.b = raw.b, tot
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           FLOOR(CAST(SUM(CAST(lr.lr AS DECIMAL(18,6))) AS DOUBLE) * 10000.0 + 0.5)
             / 10000.0 AS logweight
    FROM g JOIN lr ON g.b = lr.b
    WHERE g.source <> 'src1'
    GROUP BY g.doc_id
    ORDER BY logweight DESC, g.doc_id
    LIMIT 25
    """


@query("dsir_importance_weights", oracle=_dsir_sql(), tier="C")
def dsir_importance_weights(spark, sf_dir):
    """DSIR data selection [public: Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"]: score every RAW
    document by its log importance weight under hashed-bigram
    bag-of-ngrams models of a TARGET domain (source='src1' here) vs
    the raw pool, log w(d) = Σ_grams (ln p̂_target(b) − ln p̂_raw(b))
    with add-1 smoothing over 8192 hash buckets, and keep
    the top-k — the pretraining-corpus selection step that upweights
    target-domain-looking raw data.

    Scale shape: one gram explode (grams travel as 8-byte hashed
    bucket ids, never strings); BOTH feature models and their totals
    come from one partial-aggregated pass each over the bucket space
    (≤8192 rows — model artifacts, broadcast); the scoring
    join is broadcast onto the gram stream, so the corpus shuffles
    once, keyed by doc_id, carrying (doc_id, decimal) pairs.  Top-k is
    TakeOrderedAndProject.  The raw corpus's text never crosses an
    exchange."""
    from ..functions.text import shingles

    d = widen(t(spark, sf_dir, "documents"))
    g = d.select(
        "doc_id",
        "source",
        F.explode(shingles(tokens(F.col("text")), 2)).alias("gram"),
    ).select(
        "doc_id",
        "source",
        (token_hash(F.col("gram")) % _DSIR_BUCKETS).alias("b"),
    )
    is_tgt = F.col("source") == "src1"
    model = g.groupBy("b").agg(
        F.sum(is_tgt.cast("long")).alias("ct"),
        F.sum((~is_tgt).cast("long")).alias("cr"),
    )
    tot = g.agg(
        F.sum(is_tgt.cast("long")).alias("t"),
        F.sum((~is_tgt).cast("long")).alias("r"),
    )
    lr = (
        model.crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.col("ct") + 1.0) / (F.col("t") + _DSIR_BUCKETS))
                - F.log((F.col("cr") + 1.0) / (F.col("r") + _DSIR_BUCKETS))
            ).alias("lr"),
        )
    )
    return (
        g.filter(~is_tgt)
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            hround(F.sum(F.col("lr").cast("decimal(18,6)")).cast("double"), 4).alias(
                "logweight"
            ),
        )
        .orderBy(F.desc("logweight"), "doc_id")
        .limit(25)
    )


@query(
    "graph_hits_hubs_authorities",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    edges AS (
      SELECT doc_id AS src, dst FROM (
        SELECT doc_id, unnest([
          (doc_id * 13 + 7) % (SELECT n FROM n),
          (doc_id * 29 + 3) % (SELECT n FROM n),
          (doc_id * 7 + 1) % (SELECT n FROM n)
        ]) AS dst
        FROM documents
      )
    ),
    h0 AS (SELECT doc_id AS node, CAST(1.0 AS DOUBLE) AS h FROM documents),
    a1r AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(h0.h AS DECIMAL(28,14))) AS DOUBLE) AS a
      FROM edges e JOIN h0 ON e.src = h0.node GROUP BY e.dst
    ),
    a1 AS (
      SELECT h0.node, COALESCE(a1r.a, CAST(0.0 AS DOUBLE)) AS a
      FROM h0 LEFT JOIN a1r ON h0.node = a1r.node
    ),
    h1r AS (
      SELECT e.src AS node,
             CAST(SUM(CAST(a1.a AS DECIMAL(28,14))) AS DOUBLE) AS h
      FROM edges e JOIN a1 ON e.dst = a1.node GROUP BY e.src
    ),
    h1 AS (
      SELECT a1.node, COALESCE(h1r.h, CAST(0.0 AS DOUBLE)) AS h
      FROM a1 LEFT JOIN h1r ON a1.node = h1r.node
    ),
    z1 AS (
      SELECT CAST(SUM(CAST(a AS DECIMAL(28,14))) AS DOUBLE) AS za,
             CAST(SUM(CAST(h AS DECIMAL(28,14))) AS DOUBLE) AS zh
      FROM a1 JOIN h1 USING (node)
    ),
    n1 AS (
      SELECT a1.node, a1.a / z1.za AS a, h1.h / z1.zh AS h
      FROM a1 JOIN h1 USING (node) CROSS JOIN z1
    ),
    a2r AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(n1.h AS DECIMAL(28,14))) AS DOUBLE) AS a
      FROM edges e JOIN n1 ON e.src = n1.node GROUP BY e.dst
    ),
    a2 AS (
      SELECT n1.node, COALESCE(a2r.a, CAST(0.0 AS DOUBLE)) AS a
      FROM n1 LEFT JOIN a2r ON n1.node = a2r.node
    ),
    h2r AS (
      SELECT e.src AS node,
             CAST(SUM(CAST(a2.a AS DECIMAL(28,14))) AS DOUBLE) AS h
      FROM edges e JOIN a2 ON e.dst = a2.node GROUP BY e.src
    ),
    h2 AS (
      SELECT a2.node, COALESCE(h2r.h, CAST(0.0 AS DOUBLE)) AS h
      FROM a2 LEFT JOIN h2r ON a2.node = h2r.node
    ),
    z2 AS (
      SELECT CAST(SUM(CAST(a AS DECIMAL(28,14))) AS DOUBLE) AS za,
             CAST(SUM(CAST(h AS DECIMAL(28,14))) AS DOUBLE) AS zh
      FROM a2 JOIN h2 USING (node)
    )
    SELECT a2.node,
           FLOOR(a2.a / z2.za * 100000000.0 + 0.5) / 100000000.0 AS authority,
           FLOOR(h2.h / z2.zh * 100000000.0 + 0.5) / 100000000.0 AS hub
    FROM a2 JOIN h2 USING (node) CROSS JOIN z2
    """,
    tier="C",
)
def graph_hits_hubs_authorities(spark, sf_dir):
    """HITS (Kleinberg hubs & authorities), two L1-normalized
    iterations over the same deterministic 3-out-edge link graph as
    graph_pagerank_iterations — the complementary reputation signal:
    PageRank scores endorsement mass, HITS separates pages that POINT
    WELL (hubs: link indexes, sitemaps) from pages POINTED AT well
    (authorities) — the distinction seed-list curation and boilerplate
    demotion use.

    Scale shape, identical discipline to PageRank: both score vectors
    are DATA; each half-step is one edges⋈scores equi-join plus a
    groupBy exchange carrying (node, partial-sum) pairs; the L1
    normalizers are one-row aggregates broadcast back (decimal-summed
    so in-link arrival order can't flip the hash); no driver-side
    vectors, no N×N anything."""
    d = t(spark, sf_dir, "documents")
    n = d.count()  # parameterizes the edge formula — see pagerank note
    doc = F.col("doc_id")
    edges = d.select(
        doc.alias("src"),
        F.explode(
            F.array(
                (doc * 13 + 7) % n, (doc * 29 + 3) % n, (doc * 7 + 1) % n
            )
        ).alias("dst"),
    )
    nodes = d.select(doc.alias("node"))
    hubs = nodes.select("node", F.lit(1.0).alias("h"))

    def half_step(scores, score_col, join_on, group_on, out_col):
        agg = (
            edges.join(scores, edges[join_on] == scores["node"])
            .select(
                F.col(group_on).alias("node"),
                F.col(score_col).cast("decimal(28,14)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias(out_col))
        )
        return nodes.join(agg, "node", "left").select(
            "node", F.coalesce(F.col(out_col), F.lit(0.0)).alias(out_col)
        )

    for _ in range(2):
        auths = half_step(hubs, "h", "src", "dst", "a")
        hubs = half_step(auths, "a", "dst", "src", "h")
        both = auths.join(hubs, "node")
        z = both.agg(
            F.sum(F.col("a").cast("decimal(28,14)")).cast("double").alias("za"),
            F.sum(F.col("h").cast("decimal(28,14)")).cast("double").alias("zh"),
        )
        both = both.crossJoin(F.broadcast(z))
        auths = both.select("node", (F.col("a") / F.col("za")).alias("a"))
        hubs = both.select("node", (F.col("h") / F.col("zh")).alias("h"))
    return (
        auths.join(hubs, "node")
        .select(
            "node",
            hround(F.col("a"), 8).alias("authority"),
            hround(F.col("h"), 8).alias("hub"),
        )
    )


# ---------------------------------------------------------------------------
# HTML main-content extraction (round 13 — the ingest→text seam)
# ---------------------------------------------------------------------------

#: deterministic second content paragraph planted by the HTML fixture
#: grammar — 15 words, zero links, so the extractor must always keep
#: it (and the oracle reconstructs it arithmetically from doc_id)
_HTML_PARA2 = (
    "Section {i} adds measured detail covering topic {m} "
    "with notes on scope coverage and depth."
)


def _sql_html_para2() -> str:
    return (
        "'Section ' || CAST(doc_id AS VARCHAR) || "
        "' adds measured detail covering topic ' || "
        "CAST(doc_id % 7 AS VARCHAR) || "
        "' with notes on scope coverage and depth.'"
    )


def _html_page_cols():
    """(page_expr, damage-arm predicate): the fixture page as a PURE
    column expression (JVM-side concat — the builder itself scales as
    a scan, no Python), planting main content (the documents row's
    text + a doc_id-derived second paragraph) among boilerplate the
    extractor must drop: title (2 words), a link-only nav, script and
    style content (containing '<' to prove content-stripping), an
    HTML comment, a short promo div, a linky footer.  Every fifth doc
    is DAMAGED: truncated after the first paragraph's text inside an
    unterminated tag — the tolerant-lexer arm."""
    i = F.col("doc_id").cast("string")
    para2 = F.concat(
        F.lit("Section "), i,
        F.lit(" adds measured detail covering topic "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" with notes on scope coverage and depth."),
    )
    head = F.concat(
        F.lit("<!doctype html><html><head><title>Doc "), i,
        F.lit("</title><script type=\"text/javascript\">var n = "), i,
        F.lit("; if (n < 3) track();</script>"
              "<style>p { margin: 0; }</style></head><body>"),
    )
    nav = F.lit(
        '<nav><a href="/">Home</a> <a href="/about">About</a> '
        '<a href="/contact">Contact</a></nav>'
    )
    comment = F.concat(
        F.lit("<!-- layout: "), (F.col("doc_id") % 3).cast("string"),
        F.lit(" -->"),
    )
    p1 = F.concat(F.lit('<p id="c'), i, F.lit('">'), F.col("text"), F.lit("</p>"))
    p2 = F.concat(F.lit("<p>"), para2, F.lit("</p>"))
    promo = F.lit(
        '<div class="promo">Subscribe now for '
        '<a href="/news">updates</a></div>'
    )
    footer = F.lit(
        '<footer><a href="/privacy">Privacy</a> '
        '<a href="/terms">Terms</a> Copyright Example Corp</footer>'
    )
    whole = F.concat(
        head, nav, comment, p1, p2, promo, footer, F.lit("</body></html>")
    )
    truncated = F.concat(head, nav, F.lit("<p>"), F.col("text"), F.lit("<p cl"))
    damaged = (F.col("doc_id") % 5) == 4
    return F.when(damaged, truncated).otherwise(whole), damaged


@query(
    "text_html_main_content",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS norm
      FROM documents
    ), s AS (
      SELECT doc_id, norm,
             len(string_split(norm, ' ')) AS words,
             """ + _sql_html_para2() + """ AS para2
      FROM d
    )
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 4
                THEN CASE WHEN words >= 12 THEN 'ok' ELSE 'empty' END
                ELSE 'ok' END AS status,
           CASE WHEN doc_id % 5 = 4
                THEN CASE WHEN words >= 12 THEN norm END
                ELSE CASE WHEN words >= 12
                          THEN norm || chr(10) || chr(10) || para2
                          ELSE para2 END
           END AS main_text,
           CAST(CASE WHEN doc_id % 5 = 4
                     THEN CASE WHEN words >= 12 THEN 1 ELSE 0 END
                     ELSE CASE WHEN words >= 12 THEN 2 ELSE 1 END
                END AS INT) AS n_blocks_kept,
           CAST(CASE WHEN doc_id % 5 = 4 THEN 3 ELSE 6 END AS INT)
               AS n_blocks_total
    FROM s
    """,
    tier="C",
)
def text_html_main_content(spark, sf_dir):
    """L5+ boilerplate removal (round 13): deterministic HTML pages
    synthesized EXECUTOR-SIDE from documents rows (pure JVM concat —
    no driver loop, no UDF in the builder) run through the
    Arrow-batched block extractor (``operators/html_extract.py``).
    The oracle reconstructs the full verdict relationally: which
    blocks survive the word-count rule (min_words=12 bites — fixture
    docs span 10..100 words), the exact extracted text including the
    blank-line join, and the block counts — for both the whole-page
    arm and the truncated/malformed damage arm (every fifth page cut
    mid-tag after its first paragraph).  Title/nav/promo/footer
    boilerplate, script/style content, and comments must vanish for
    the hash to match."""
    from ..operators.html_extract import extract_main_content

    page, _ = _html_page_cols()
    pages = (
        t(spark, sf_dir, "documents")
        .select("doc_id", page.alias("payload"))
    )
    return extract_main_content(
        widen(pages), html_col="payload", keys=("doc_id",), min_words=12
    )


@query(
    "warc_html_quality_verdicts",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 100
    ), s AS (
      SELECT doc_id, norm,
             len(string_split(norm, ' ')) AS words,
             """ + _sql_html_para2() + """ AS para2
      FROM d
    ), m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 4
                  THEN CASE WHEN words >= 12 THEN norm END
                  ELSE CASE WHEN words >= 12 THEN norm || ' ' || para2
                            ELSE para2 END
             END AS flat
      FROM s
    ), q AS (
      SELECT doc_id, flat, string_split(flat, ' ') AS toks FROM m
    )
    SELECT 'example,html)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
           'http://html.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CASE WHEN flat IS NULL THEN 'empty' ELSE 'ok' END AS status,
           CAST(len(toks) AS BIGINT) AS n_words,
           """ + sql_hround(
               sql_stopword_count("toks") + " * 1.0 / len(toks)", 4
           ) + """ AS stop_ratio,
           COALESCE(len(toks) BETWEEN 20 AND 2000
                    AND 100 * """ + sql_stopword_count("toks") + """
                        >= 2 * len(toks), FALSE) AS keep
    FROM q
    """,
    tier="C",
)
def warc_html_quality_verdicts(spark, sf_dir):
    """END-TO-END ingest→text→curation (round 13): fixture HTML pages
    (same grammar as ``text_html_main_content``, damage arm included)
    are written into a REAL ``.warc.gz`` as ``text/html`` response
    records, ingested by ``index_warcs(keep_payload=('text/html',))``,
    boilerplate-stripped by the Arrow-pass extractor, and scored by
    the stopword-ratio quality gate — the C4-shaped raw-crawl→
    training-verdict funnel in one lineage.  The oracle rebuilds the
    SURT urlkey, the expected extracted text, and the quality verdict
    from the doc_id grammar, so the hash match proves WARC grammar →
    payload retention → HTML extraction → tokenization → gate end to
    end."""
    import tempfile

    from ..operators.html_extract import extract_main_content
    from ..sources.warc import index_warcs, write_mini_warc

    page, _ = _html_page_cols()
    rows = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", page.alias("page"))
        .collect()
    )
    recs = [
        dict(
            url=f"http://html.example/doc/{int(r.doc_id)}",
            date_iso="2020-01-01T00:00:00Z",
            mime="text/html",
            payload=r.page.encode("utf-8"),
        )
        for r in sorted(rows, key=lambda r: int(r.doc_id))
    ]
    d = tempfile.mkdtemp(prefix="warc_html_")
    path = f"{d}/html.warc.gz"
    write_mini_warc(path, recs)
    manifest = spark.createDataFrame([(path,)], ["path"])
    kept = index_warcs(spark, manifest, keep_payload=("text/html",))
    ext = extract_main_content(kept, keys=("urlkey", "url"), min_words=12)
    tk = tokens(F.regexp_replace(F.col("main_text"), "[ \t\r\n]+", " "))
    has = F.col("main_text").isNotNull()
    # size(NULL) is -1 in non-ANSI Spark — null-gate the counts so an
    # 'empty' verdict carries NULL token stats like the oracle's
    n = F.when(has, F.size(tk))
    stop = F.when(has, stopword_count(tk))
    return ext.select(
        "urlkey",
        "url",
        "status",
        n.cast("bigint").alias("n_words"),
        hround(stop * F.lit(1.0) / n, 4).alias("stop_ratio"),
        F.coalesce(
            n.between(20, 2000) & (100 * stop >= 2 * n), F.lit(False)
        ).alias("keep"),
    )


@query(
    "text_bpe_pretrained_ids",
    oracle=__import__(
        "webarchive_indexing_spark.operators.bpe", fromlist=["sql_bpe_byte_level"]
    ).sql_bpe_byte_level(
        n_merges=5,
        learn_limit=300,
        encode_limit=200,
        text_sql="text || ' Don''t—naïve café, 123!'",
    ),
    tier="C",
)
def text_bpe_pretrained_ids(spark, sf_dir):
    """PUBLISHED-tokenizer serving path (round 13): the learned merge
    table is SERIALIZED to the public GPT-2 artifact pair
    (``merges.txt`` in the byte↔unicode alphabet + ``vocab.json``),
    re-LOADED through the quarantine parser, and applied by the
    Arrow-pass pretrained encoder (``bpe_encode_pretrained`` —
    Spark-side pretokenization, per-word Python merge chain with the
    artifact as a broadcast literal, canonical rank-order BPE).  The
    oracle re-learns and encodes relationally, so the value hash
    proves learner → GPT-2 serialization → parse → canonical encode
    all produce THE same token ids — the fixed-tokenizer guarantee a
    training run needs.  Five merges (vs the expression path's four)
    keep the two byte-level queries distinct."""
    import tempfile

    from ..operators.bpe import (
        bpe_encode_pretrained,
        bpe_learn_merges_bytes,
        load_bpe_artifacts,
        write_bpe_artifacts,
    )

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(_BPE_BYTE_SUFFIX)).alias("text"),
    )
    learned = bpe_learn_merges_bytes(
        d.filter(F.col("doc_id") < 300), n_merges=5
    ).collect()
    merges = [
        (r["lhs"], r["rhs"])
        for r in sorted(learned, key=lambda r: r["merge_rank"])
    ]
    art_dir = tempfile.mkdtemp(prefix="bpe_art_")
    mpath, vpath = write_bpe_artifacts(merges, art_dir)
    art = load_bpe_artifacts(mpath, vpath)
    return bpe_encode_pretrained(d.filter(F.col("doc_id") < 200), art)


# ---------------------------------------------------------------------------
# published model artifacts (round 13): fastText .vec + ARPA bigram LM
# ---------------------------------------------------------------------------

def _sql_h(expr: str) -> str:
    return sql_token_hash(expr)


def _vec_component_sql(j: int, w: str = "w") -> str:
    expr = w + " || ':" + str(j) + "'"
    return f"({_sql_h(expr)} % 2001 - 1000) / 1000.0"


@query(
    "text_vec_doc_embedding",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id < 300
      ) WHERE {_sql_h('w')} % 3 <> 0
    ), vecs AS (
      SELECT w,
             {_vec_component_sql(0)} AS v0,
             {_vec_component_sql(1)} AS v1,
             {_vec_component_sql(2)} AS v2,
             {_vec_component_sql(3)} AS v3
      FROM vocab
    ), toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE doc_id < 200
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) - COUNT(v.w) AS BIGINT) AS n_oov,
           {sql_hround('CAST(COALESCE(SUM(CAST(v.v0 AS DECIMAL(18,6))), 0) AS DOUBLE) / GREATEST(COUNT(v.w), 1)', 6)} AS e0,
           {sql_hround('CAST(COALESCE(SUM(CAST(v.v1 AS DECIMAL(18,6))), 0) AS DOUBLE) / GREATEST(COUNT(v.w), 1)', 6)} AS e1,
           {sql_hround('CAST(COALESCE(SUM(CAST(v.v2 AS DECIMAL(18,6))), 0) AS DOUBLE) / GREATEST(COUNT(v.w), 1)', 6)} AS e2,
           {sql_hround('CAST(COALESCE(SUM(CAST(v.v3 AS DECIMAL(18,6))), 0) AS DOUBLE) / GREATEST(COUNT(v.w), 1)', 6)} AS e3
    FROM toks t LEFT JOIN vecs v ON t.w = v.w
    GROUP BY t.doc_id
    """,
    tier="C",
)
def text_vec_doc_embedding(spark, sf_dir):
    """PUBLISHED word-vector artifact end-to-end (round 13): a
    fastText ``.vec`` fixture file — vocabulary a deterministic
    md5-derived subset of the doc_id<300 corpus (so real OOV exists),
    components a 3-decimal hash grammar — is WRITTEN, re-LOADED
    through the quarantine parser, and applied as a broadcast-join
    model: every document's mean word vector plus OOV counts, exact
    decimal sums.  The oracle reconstructs vocabulary, components and
    means relationally from the same grammar, so the hash match
    proves serialize → parse → broadcast-apply — the mechanism a real
    2M-token .vec rides at scale (model to executors once; corpus
    text never shuffles)."""
    import tempfile

    from ..sources.model_artifacts import load_vec_vectors, write_vec_vectors

    def h(col):
        return token_hash(col)

    docs = t(spark, sf_dir, "documents")
    vocab = (
        docs.filter(F.col("doc_id") < 300)
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .distinct()
        .filter(F.pmod(h(F.col("w")), F.lit(3)) != 0)
    )
    comp = [
        ((F.pmod(h(F.concat(F.col("w"), F.lit(f":{j}"))), F.lit(2001)) - 1000)
         / F.lit(1000.0)).alias(f"v{j}")
        for j in range(4)
    ]
    rows = sorted(
        (r["w"], [r["v0"], r["v1"], r["v2"], r["v3"]])
        for r in vocab.select("w", *comp).collect()
    )
    d = tempfile.mkdtemp(prefix="vec_art_")
    path = write_vec_vectors(rows, 4, f"{d}/model.vec")
    loaded, dim = load_vec_vectors(path)
    vec_df = spark.createDataFrame(
        [(w, *v) for w, v in loaded],
        "w string, v0 double, v1 double, v2 double, v3 double",
    )
    toks = (
        docs.filter(F.col("doc_id") < 200)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    )
    j = toks.join(F.broadcast(vec_df), "w", "left")
    in_vocab = F.count("v0")
    mean = [
        hround(
            F.coalesce(
                F.sum(F.col(f"v{k}").cast("decimal(18,6)")), F.lit(0)
            ).cast("double") / F.greatest(in_vocab, F.lit(1)),
            6,
        ).alias(f"e{k}")
        for k in range(4)
    ]
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        (F.count(F.lit(1)) - in_vocab).cast("bigint").alias("n_oov"),
        *mean,
    )


@query(
    "text_arpa_logprob",
    oracle=f"""
    WITH train AS (
      SELECT string_split(text, ' ') AS ws
      FROM documents WHERE doc_id < 300
    ), tuni AS (
      SELECT DISTINCT unnest(ws) AS w FROM train
    ), tpairs AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM train, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    ), tbi AS (
      SELECT w1, w2 FROM tpairs GROUP BY w1, w2 HAVING COUNT(*) >= 3
    ), uni AS (
      SELECT w,
             -(1 + {_sql_h("w || ':u'")} % 4000) / 1000.0 AS lp,
             -(1 + {_sql_h("w || ':b'")} % 2000) / 1000.0 AS bo
      FROM tuni
    ), bi AS (
      SELECT w1, w2,
             -(1 + {_sql_h("w1 || ' ' || w2")} % 4000) / 1000.0 AS blp
      FROM tbi
    ), dpairs AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents WHERE doc_id < 200
      ), unnest(generate_series(1, len(ws) - 1)) AS t(i)
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN b.blp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_backoff,
           {sql_hround('CAST(SUM(COALESCE(CAST(b.blp AS DECIMAL(18,6)), CAST(u1.bo AS DECIMAL(18,6)) + CAST(u2.lp AS DECIMAL(18,6)))) AS DOUBLE)', 4)} AS logprob
    FROM dpairs d
    LEFT JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
    JOIN uni u1 ON d.w1 = u1.w
    JOIN uni u2 ON d.w2 = u2.w
    GROUP BY d.doc_id
    """,
    tier="C",
)
def text_arpa_logprob(spark, sf_dir):
    """PUBLISHED backoff-LM artifact end-to-end (round 13): an ARPA
    unigram+bigram fixture — vocabulary from the doc_id<300 corpus,
    bigram entries only for pairs seen ≥3 times (so the BACKOFF path
    really fires), logprobs a 3-decimal hash grammar — is written,
    re-loaded through the quarantine parser, and applied with the
    standard Katz lookup: ``logP(w2|w1) = bigram`` when present, else
    ``backoff(w1) + unigram(w2)``.  Per-document totals sum exactly
    in decimals.  The oracle re-derives vocabulary, entry set, every
    logprob and the backoff CASE relationally — serialize → parse →
    apply, value-hashed.  Scale shape: the LM is two broadcast
    tables; the corpus-side cost is one pair-explode scan."""
    import tempfile

    from ..sources.model_artifacts import (
        load_arpa_bigram,
        write_arpa_bigram,
    )

    docs = t(spark, sf_dir, "documents")

    def h(col):
        return token_hash(col)

    def pair_frame(df):
        ws = tokens(F.col("text"))
        seq = F.sequence(F.lit(1), F.size(ws) - 1)
        pairs = F.transform(
            seq,
            lambda i: F.struct(
                F.element_at(ws, i.cast("int")).alias("w1"),
                F.element_at(ws, (i + 1).cast("int")).alias("w2"),
            ),
        )
        return (
            df.filter(F.size(tokens(F.col("text"))) >= 2)
            .select("doc_id", F.explode(pairs).alias("p"))
            .select("doc_id", "p.w1", "p.w2")
        )

    train = docs.filter(F.col("doc_id") < 300)
    uni_rows = sorted(
        (r["w"], r["lp"], r["bo"])
        for r in train.select(F.explode(tokens(F.col("text"))).alias("w"))
        .distinct()
        .select(
            "w",
            (-(1 + F.pmod(h(F.concat(F.col("w"), F.lit(":u"))), F.lit(4000)))
             / F.lit(1000.0)).alias("lp"),
            (-(1 + F.pmod(h(F.concat(F.col("w"), F.lit(":b"))), F.lit(2000)))
             / F.lit(1000.0)).alias("bo"),
        )
        .collect()
    )
    bi_rows = sorted(
        (r["w1"], r["w2"], r["blp"])
        for r in pair_frame(train)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 3)
        .select(
            "w1", "w2",
            (-(1 + F.pmod(
                h(F.concat(F.col("w1"), F.lit(" "), F.col("w2"))),
                F.lit(4000))) / F.lit(1000.0)).alias("blp"),
        )
        .collect()
    )
    d = tempfile.mkdtemp(prefix="arpa_art_")
    path = write_arpa_bigram(uni_rows, bi_rows, f"{d}/model.arpa")
    model = load_arpa_bigram(path)
    uni_df = spark.createDataFrame(
        model["uni"], "w string, lp double, bo double"
    )
    bi_df = spark.createDataFrame(
        model["bi"], "w1 string, w2 string, blp double"
    )
    dpairs = pair_frame(docs.filter(F.col("doc_id") < 200))
    scored = (
        dpairs.join(F.broadcast(bi_df), ["w1", "w2"], "left")
        .join(
            F.broadcast(uni_df.select(F.col("w").alias("w1"),
                                      F.col("bo").alias("u1_bo"))),
            "w1",
        )
        .join(
            F.broadcast(uni_df.select(F.col("w").alias("w2"),
                                      F.col("lp").alias("u2_lp"))),
            "w2",
        )
    )
    score = F.coalesce(
        F.col("blp").cast("decimal(18,6)"),
        F.col("u1_bo").cast("decimal(18,6)")
        + F.col("u2_lp").cast("decimal(18,6)"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("blp").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_backoff"),
        hround(F.sum(score).cast("double"), 4).alias("logprob"),
    )


# ---------------------------------------------------------------------------
# graph ANN (round 13): persisted kNN graph + beam-search serving
# ---------------------------------------------------------------------------

@query(
    "emb_graph_beam_topk",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_topk"],
    ).sql_graph_beam_topk(
        query_vec_id=77, n_base=500, k_neighbors=12,
        k=10, beam=10, hops=3, entries_from_graph=4,
    ),
    tier="C",
)
def emb_graph_beam_topk(spark, sf_dir):
    """HNSW-SHAPE graph serving (round 13 — the one serving structure
    the round-12 matrix lacked): a persisted directed kNN graph store
    (top-12 cosine edges per node over the bounded base, reverse
    edges unioned in — symmetrization is what makes the graph
    navigable, see operators/graph_ann.py) probed by a BOUNDED
    beam-search walk — 4 spread entry points, beam 10, 3 unrolled
    best-first rounds, each expanding only the beam's unvisited
    out-neighbors; answer = top-10 of the visited set.  The walk is
    one static Spark plan of broadcast joins (no collect, no driver
    loop); candidates scored ≤ |entries| + H·B·degree — the HNSW cost
    shape, independent of corpus size.  Entry points are PERSISTED in
    the store recipe since round 15 (top-degree hubs selected at
    build time — no caller-supplied magic ids); the oracle re-derives
    the edge table, the SAME top-degree entry selection, AND the
    unrolled walk as chained CTEs, so build ∘ serve is value-hashed
    end to end.  Recall vs brute force and vs IVF-flat at equal
    candidate budget is pinned in tests/test_graph_ann.py; the
    serving half alone is ``emb_graph_beam_topk_probe``."""
    import tempfile

    from ..operators.graph_ann import graph_beam_topk, write_knn_graph
    from ..operators.similarity import collect_query_vector

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="graph_ann_")
    write_knn_graph(emb, out, k_neighbors=12, n_base=500)
    qv = collect_query_vector(emb, 77)
    return graph_beam_topk(
        spark, out, qv, k=10, beam=10, hops=3, exclude_id=77,
    )


@query(
    "warc_wet_roundtrip",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 100
    ), s AS (
      SELECT doc_id, norm,
             len(string_split(norm, ' ')) AS words,
             """ + _sql_html_para2() + """ AS para2
      FROM d
    ), m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 4
                  THEN CASE WHEN words >= 12 THEN norm END
                  ELSE CASE WHEN words >= 12
                            THEN norm || chr(10) || chr(10) || para2
                            ELSE para2 END
             END AS main_text
      FROM s
    )
    SELECT 'example,html)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
           '20200101000000' AS timestamp,
           'text/plain' AS mime,
           main_text AS text
    FROM m WHERE main_text IS NOT NULL
    """,
    tier="C",
)
def warc_wet_roundtrip(spark, sf_dir):
    """WET PRODUCTION closed-loop (round 13): response WARC → HTML
    extraction → ``write_wet`` (sharded ``conversion``-record
    .warc.wet.gz, the Common Crawl WET grammar) → re-ingest through
    the engine's OWN WET reader (``record_types=('conversion',)``,
    payload retention) — urlkey, capture time, record mime and the
    extracted text must all survive the serialize→parse cycle
    byte-for-byte against the grammar oracle.  This makes the engine
    a WET producer, not only a consumer: the upstream tooling step
    that explains why WET files exist is now expressible end to end
    in one lineage."""
    import tempfile

    from ..functions.timestamps import from_ts14
    from ..operators.html_extract import extract_main_content
    from ..sources.warc import index_warcs, write_mini_warc, write_wet

    page, _ = _html_page_cols()
    rows = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", page.alias("page"))
        .collect()
    )
    recs = [
        dict(
            url=f"http://html.example/doc/{int(r.doc_id)}",
            date_iso="2020-01-01T00:00:00Z",
            mime="text/html",
            payload=r.page.encode("utf-8"),
        )
        for r in sorted(rows, key=lambda r: int(r.doc_id))
    ]
    d = tempfile.mkdtemp(prefix="wet_rt_")
    src = f"{d}/html.warc.gz"
    write_mini_warc(src, recs)
    kept = index_warcs(
        spark, spark.createDataFrame([(src,)], ["path"]),
        keep_payload=("text/html",),
    )
    ext = extract_main_content(
        kept, keys=("urlkey", "url", "timestamp"), min_words=12
    )
    wet_dir = f"{d}/wet"
    manifest = write_wet(
        ext.select(
            "url",
            F.date_format(
                from_ts14(F.col("timestamp")), "yyyy-MM-dd'T'HH:mm:ss'Z'"
            ).alias("date_iso"),
            "main_text",
        ),
        wet_dir,
        n_files=2,
    )
    wet = index_warcs(
        spark,
        spark.createDataFrame([(p,) for p, _n in manifest], ["path"]),
        record_types=("conversion",),
        keep_payload=("text/",),
    )
    return wet.select(
        "urlkey",
        "timestamp",
        "mime",
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )


@query(
    "emb_graph_beam_batch",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_batch_topk"],
    ).sql_graph_beam_batch_topk(
        query_vec_ids=_ANN_BATCH_QIDS, n_base=500, k_neighbors=12,
        k=10, beam=10, hops=3, entries_from_graph=4,
    ),
    tier="C",
)
def emb_graph_beam_batch(spark, sf_dir):
    """BATCH graph serving (round 13): the 4 standing batch query
    vectors walk the persisted graph store in ONE job — per-request
    visited/beam state rides a request_no column, query vectors are a
    broadcast table (plain join + cosine, no per-request expression
    arms), per-request ranking is the request_no window.  Completes
    the serving matrix: the graph structure now has single AND batch
    faces like every IVF layout.  Oracle = the batch walk re-derived
    as chained CTEs with per-request windows."""
    import tempfile

    from ..operators.graph_ann import graph_beam_batch_topk, write_knn_graph

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="graph_ann_b_")
    write_knn_graph(emb, out, k_neighbors=12, n_base=500)
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return graph_beam_batch_topk(
        spark, out, [vecs[q] for q in qids], k=10, beam=10, hops=3,
        exclude_ids=qids,
    )


@query(
    "emb_graph_beam_filtered",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_topk"],
    ).sql_graph_beam_topk(
        query_vec_id=77, n_base=500, k_neighbors=12,
        k=10, beam=10, hops=3, entries_from_graph=4,
        where_sql="e.label % 2 = 0",
    ),
    tier="C",
)
def emb_graph_beam_filtered(spark, sf_dir):
    """FILTERED graph serving (round 13): the walk traverses the
    graph UNFILTERED (non-matching nodes stay navigable stepping
    stones — the standard graph-store semantics, unlike IVF's
    filter-before-top-k which prunes the scan), and the attribute
    predicate post-filters the visited set before top-k.  The store
    carries the attrs column (``write_knn_graph(attrs=('label',))``,
    the ann_index convention); the oracle applies the identical
    predicate over its re-derived visited CTE.  Completes the
    filtered face of the serving matrix for the graph structure."""
    import tempfile

    from ..operators.graph_ann import graph_beam_topk, write_knn_graph
    from ..operators.similarity import collect_query_vector

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="graph_ann_f_")
    write_knn_graph(emb, out, k_neighbors=12, n_base=500, attrs=("label",))
    qv = collect_query_vector(emb, 77)
    return graph_beam_topk(
        spark, out, qv, k=10, beam=10, hops=3, exclude_id=77,
        where="label % 2 = 0",
    )


@query(
    "emb_graph_beam_batch_filtered",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_batch_topk"],
    ).sql_graph_beam_batch_topk(
        query_vec_ids=_ANN_BATCH_QIDS, n_base=500, k_neighbors=12,
        k=10, beam=10, hops=3, entries_from_graph=4,
        where_sqls=(
            "e.label % 2 = 0", None, "e.label IN (1, 5)",
            "e.label % 3 = 1",
        ),
    ),
    tier="C",
)
def emb_graph_beam_batch_filtered(spark, sf_dir):
    """FILTERED BATCH graph serving (round 15 — closes the one
    asymmetry left in the serving matrix: every IVF layout has
    per-request ``wheres`` batch filtering, the graph structure had
    filtered-single only): N walks advance in lockstep from the
    store's persisted entry points, then each request's visited set
    is POST-filtered by its own attribute predicate (None =
    unfiltered; non-matching nodes stayed navigable stepping stones
    during the walk — the standard graph-store semantics) before its
    per-request top-k.  The oracle applies the identical per-request
    predicate arms over its re-derived visited CTE — build ∘ batch
    walk ∘ per-request filter value-hashed end to end."""
    import tempfile

    from ..operators.graph_ann import (
        graph_beam_batch_topk, write_knn_graph,
    )

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="graph_ann_bf_")
    write_knn_graph(emb, out, k_neighbors=12, n_base=500, attrs=("label",))
    qids = list(_ANN_BATCH_QIDS)
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return graph_beam_batch_topk(
        spark, out, [vecs[q] for q in qids], k=10, beam=10, hops=3,
        exclude_ids=qids,
        wheres=["label % 2 = 0", None, "label IN (1, 5)", "label % 3 = 1"],
    )


@query(
    "warc_pretrain_funnel",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 100
    ), s AS (
      SELECT doc_id, norm,
             len(string_split(norm, ' ')) AS words,
             """ + _sql_html_para2() + """ AS para2
      FROM d
    ), m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 4
                  THEN CASE WHEN words >= 12 THEN norm END
                  ELSE CASE WHEN words >= 12 THEN norm || ' ' || para2
                            ELSE para2 END
             END AS flat
      FROM s
    ), caps AS (
      SELECT 'example,html)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
             flat FROM m
      UNION ALL
      SELECT 'example,html)/dup/' || CAST(doc_id AS VARCHAR) AS urlkey,
             flat FROM m WHERE doc_id < 20
    ), q AS (
      SELECT urlkey, flat, string_split(flat, ' ') AS toks,
             md5(flat) AS h
      FROM caps
    ), c AS (
      SELECT *, MIN(urlkey) OVER (PARTITION BY h) AS canon FROM q
    )
    SELECT urlkey,
           CASE WHEN flat IS NULL THEN 'empty' ELSE 'ok' END AS status,
           CAST(len(toks) AS BIGINT) AS n_words,
           COALESCE(len(toks) BETWEEN 20 AND 2000
                    AND 100 * """ + sql_stopword_count("toks") + """
                        >= 2 * len(toks), FALSE) AS keep_quality,
           COALESCE(h IS NOT NULL AND urlkey = canon, FALSE)
               AS is_canonical,
           COALESCE(flat IS NOT NULL
                    AND len(toks) BETWEEN 20 AND 2000
                    AND 100 * """ + sql_stopword_count("toks") + """
                        >= 2 * len(toks)
                    AND urlkey = canon, FALSE) AS keep
    FROM c
    """,
    tier="C",
)
def warc_pretrain_funnel(spark, sf_dir):
    """The round-13 CAPSTONE composition — raw crawl to training
    verdict in ONE lineage: fixture HTML pages (every doc under 20
    also captured at a second URL — real content duplicates) ride a
    .warc.gz through payload-retaining ingest, Arrow-pass boilerplate
    removal, the stopword quality gate, AND exact content dedup
    (md5 of the extracted text, min-urlkey canonical per hash).  The
    final ``keep`` is the pretraining verdict: extracted, quality,
    canonical.  One exchange in the whole funnel (the dedup hash
    window) — every other gate is scan-side.  The oracle rebuilds
    both capture sets, the extraction, both gates and the canonical
    choice relationally, so the hash match proves the full
    C4/RefinedWeb-shaped funnel end to end — the composition the
    round's HTML seam exists to enable."""
    import tempfile

    from ..operators.html_extract import extract_main_content
    from ..sources.warc import index_warcs, write_mini_warc

    page, _ = _html_page_cols()
    rows = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", page.alias("page"))
        .collect()
    )
    recs = []
    for r in sorted(rows, key=lambda r: int(r.doc_id)):
        k = int(r.doc_id)
        payload = r.page.encode("utf-8")
        recs.append(dict(
            url=f"http://html.example/doc/{k}",
            date_iso="2020-01-01T00:00:00Z",
            mime="text/html", payload=payload,
        ))
        if k < 20:
            recs.append(dict(
                url=f"http://html.example/dup/{k}",
                date_iso="2020-01-01T00:00:00Z",
                mime="text/html", payload=payload,
            ))
    d = tempfile.mkdtemp(prefix="warc_funnel_")
    path = f"{d}/crawl.warc.gz"
    write_mini_warc(path, recs)
    kept = index_warcs(
        spark, spark.createDataFrame([(path,)], ["path"]),
        keep_payload=("text/html",),
    )
    ext = extract_main_content(kept, keys=("urlkey",), min_words=12)
    flat = F.regexp_replace(F.col("main_text"), "[ \t\r\n]+", " ")
    staged = ext.select(
        "urlkey", "status", flat.alias("flat"),
        F.md5(flat).alias("h"),
    )
    tk = tokens(F.col("flat"))
    has = F.col("flat").isNotNull()
    n = F.when(has, F.size(tk))
    stop = F.when(has, stopword_count(tk))
    quality = n.between(20, 2000) & (100 * stop >= 2 * n)
    canon = F.min("urlkey").over(Window.partitionBy("h"))
    return staged.select(
        "urlkey",
        "status",
        n.cast("bigint").alias("n_words"),
        F.coalesce(quality, F.lit(False)).alias("keep_quality"),
        F.coalesce(
            F.col("h").isNotNull() & (F.col("urlkey") == canon),
            F.lit(False),
        ).alias("is_canonical"),
        F.coalesce(
            has & quality & (F.col("urlkey") == canon), F.lit(False)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# graph ANN lifecycle (round 14): scale-path builds + LSM parity
# ---------------------------------------------------------------------------

#: graph-store tombstone fixture: the beam walk's pre-delete top-2 at
#: BOTH test scales (sf0.001: 171, 40; sf0.01: 190, 41), so the delete
#: provably removes rows that WOULD have been served — the
#: _ANN_DELETED_IDS discipline applied to the graph store.
_GRAPH_DELETED_IDS = (40, 41, 171, 190)


@query(
    "emb_graph_grid_build",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_topk"],
    ).sql_graph_beam_topk(
        query_vec_id=77, n_base=500, k_neighbors=12,
        k=10, beam=10, hops=3, entries=(0, 150, 300, 450),
        min_sim=0.24,
    ),
    tier="C",
)
def emb_graph_grid_build(spark, sf_dir):
    """BLOCKED graph BUILD (round 14 — verdict task 1: the O(n²)
    broadcast self-join stops being the only path): candidates come
    from the LOSSLESS ε-grid (``grid_threshold_candidates`` —
    ``operators/similarity.grid_blocked_pairs`` over a trivial block,
    symmetrized), paired with ``min_sim=0.24`` so the edge set is
    EXACTLY "per-src top-12 among pairs with cos ≥ 0.24" — a logical
    contract independent of the grid, which keeps the oracle a plain
    ``cos(a,b) >= t`` join while physical candidates are bounded by
    grid-cell occupancy (threshold-sized cells, not corpus²; at the
    fixture's low sim regime the cells are wide — the honest caveat —
    but the contract and plan shape are the 100 TB ones).  The beam
    walk then serves the thresholded graph; recall vs the exact build
    is pinned within an envelope in tests/test_graph_ann.py.  Build ∘
    serve value-hashed end to end."""
    import tempfile

    from ..operators.graph_ann import (
        graph_beam_topk, grid_threshold_candidates, write_knn_graph,
    )
    from ..operators.similarity import collect_query_vector

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="graph_grid_")
    write_knn_graph(
        emb, out, k_neighbors=12, n_base=500,
        candidates=grid_threshold_candidates(0.24), min_sim=0.24,
    )
    qv = collect_query_vector(emb, 77)
    return graph_beam_topk(
        spark, out, qv, k=10, beam=10, hops=3,
        entries=(0, 150, 300, 450), exclude_id=77,
    )


@query(
    "emb_graph_nnd_build",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_topk", "sql_nnd_knn_cte"],
    ).sql_graph_beam_topk(
        query_vec_id=77, n_base=200, k_neighbors=6,
        k=10, beam=10, hops=3, entries=(0, 50, 100, 150),
        knn_cte=__import__(
            "webarchive_indexing_spark.operators.graph_ann",
            fromlist=["sql_nnd_knn_cte"],
        ).sql_nnd_knn_cte(
            n_base=200, k_neighbors=6, rounds=2, stride=37,
        ),
    ),
    tier="C",
)
def emb_graph_nnd_build(spark, sf_dir):
    """NN-DESCENT graph build (round 14 — the production-scale
    construction primitive, Dong et al. WWW'11): deterministic
    arithmetic seed ring → 2 bounded rounds of "replace each node's
    edges with top-k of {current} ∪ {neighbors-of-neighbors over the
    symmetrized adjacency}" → persisted store → beam-walk serving.
    Per-round candidates are n·(2k)² — LINEAR in corpus size, the
    answer to the exact build's n² (kmeans/logreg bounded-iteration
    pattern; every round is id-keyed joins, nothing corpus-sized is
    broadcast).  The oracle re-derives seed, both rounds, and the
    walk as one CTE chain (``sql_nnd_knn_cte``), so build ∘ serve is
    value-hashed end to end.  Convergence-per-round is pinned in
    tests/test_graph_ann.py (uniform fixture vectors are NND's
    documented worst case; the parity here is about the OPERATOR, not
    the fixture's geometry)."""
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.graph_ann import (
        graph_beam_topk, nn_descent_knn_graph, write_knn_graph,
    )
    from ..operators.similarity import collect_query_vector

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    edges = nn_descent_knn_graph(
        base, k_neighbors=6, rounds=2, stride=37, n_base=200
    )
    out = tempfile.mkdtemp(prefix="graph_nnd_")
    write_knn_graph(emb, out, k_neighbors=6, n_base=200, edges=edges)
    qv = collect_query_vector(emb, 77)
    return graph_beam_topk(
        spark, out, qv, k=10, beam=10, hops=3,
        entries=(0, 50, 100, 150), exclude_id=77,
    )


@query(
    "emb_graph_nnd_sparse_ids",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_topk", "sql_nnd_knn_cte"],
    ).sql_graph_beam_topk(
        query_vec_id=2309, n_base=4384, k_neighbors=6,
        k=10, beam=10, hops=3, entries_from_graph=4,
        knn_cte=__import__(
            "webarchive_indexing_spark.operators.graph_ann",
            fromlist=["sql_nnd_knn_cte"],
        ).sql_nnd_knn_cte(
            n_base=4384, k_neighbors=6, rounds=2, seed="hash_ring",
        ),
        base_select=(
            "SELECT vec_id * 17 + 1000 AS vec_id, embedding "
            "FROM embeddings WHERE vec_id < 200"
        ),
        query_from_base=True,
    ),
    tier="C",
)
def emb_graph_nnd_sparse_ids(spark, sf_dir):
    """NN-descent build over a NON-CONTIGUOUS id domain (round 15 —
    the round-14 verdict's "production-id builds" gap): the corpus is
    re-keyed to the sparse domain ``vec_id·17 + 1000`` and built with
    ``seed="hash_ring"`` — ``hash_ring_seed`` places the ACTUAL ids on
    a deterministic md5-ordered ring (two-pass global rank, no
    single-partition window) and seeds each node with its k ring
    successors, so sparse/hashed doc ids NND-build without re-keying
    to 0..n-1 (the arithmetic ring's documented precondition,
    ``operators/graph_ann.py``).  Store write, beam-walk serving, and
    the oracle's ring/rounds/walk re-derivation all run on the sparse
    ids end to end — the md5 ring key is the cross-engine
    ``functions/text.token_hash`` contract, so DuckDB reproduces the
    identical ring order.  Serving uses the store's PERSISTED entry
    points (no magic ids anywhere in the sparse-domain path); the
    oracle re-derives the same hash-stratified hub selection over
    its NND-built graph CTE."""
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.graph_ann import (
        graph_beam_topk, nn_descent_knn_graph, write_knn_graph,
    )
    from ..operators.similarity import collect_query_vector

    emb = t(spark, sf_dir, "embeddings")
    sparse = emb.filter(F.col("vec_id") < 200).select(
        (F.col("vec_id") * 17 + 1000).alias("vec_id"), "embedding"
    )
    edges = nn_descent_knn_graph(
        sparse, k_neighbors=6, rounds=2, seed="hash_ring"
    )
    out = tempfile.mkdtemp(prefix="graph_nnd_sp_")
    write_knn_graph(sparse, out, k_neighbors=6, n_base=4384, edges=edges)
    qv = collect_query_vector(sparse, 2309)
    return graph_beam_topk(
        spark, out, qv, k=10, beam=10, hops=3, exclude_id=2309,
    )


@query(
    "emb_graph_delete_probe",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_topk"],
    ).sql_graph_beam_topk(
        query_vec_id=77, n_base=500, k_neighbors=12,
        k=10, beam=10, hops=3, entries=(0, 150, 300, 450),
        exclude_result_ids=_GRAPH_DELETED_IDS,
    ),
    tier="C",
)
def emb_graph_delete_probe(spark, sf_dir):
    """Graph-store DELETES (round 14 — LSM parity with the flat/PQ
    delete probes): ``delete_from_knn_graph`` files metadata-sized
    tombstone batches (the shared ``sinks/ann_index.py`` contract);
    the walk excludes tombstoned ids from RESULTS while keeping them
    navigable STEPPING STONES (cutting a hub out of the topology
    would orphan its neighborhood — physical removal is
    ``compact_knn_graph``'s job, pinned in tests/test_graph_ann.py).
    The tombstoned ids are the walk's pre-delete top-2 at both test
    scales, so this query's rows CHANGE versus
    ``emb_graph_beam_topk`` — the takedown provably stops serving
    rows that WOULD have been served.  The oracle applies the
    identical exclusion over its re-derived visited set."""
    import tempfile

    from ..operators.graph_ann import (
        delete_from_knn_graph, graph_beam_topk, write_knn_graph,
    )
    from ..operators.similarity import collect_query_vector

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="graph_del_")
    write_knn_graph(emb, out, k_neighbors=12, n_base=500)
    delete_from_knn_graph(out, list(_GRAPH_DELETED_IDS[:2]))
    delete_from_knn_graph(out, list(_GRAPH_DELETED_IDS[2:]))  # batches union
    qv = collect_query_vector(emb, 77)
    return graph_beam_topk(
        spark, out, qv, k=10, beam=10, hops=3,
        entries=(0, 150, 300, 450), exclude_id=77,
    )


@query(
    "emb_graph_append_walk",
    oracle=__import__(
        "webarchive_indexing_spark.operators.graph_ann",
        fromlist=["sql_graph_beam_topk"],
    ).sql_graph_beam_topk(
        query_vec_id=77, n_base=500, k_neighbors=12,
        k=10, beam=10, hops=3, entries=(0, 150, 300, 450),
        append_from=400,
    ),
    tier="C",
)
def emb_graph_append_walk(spark, sf_dir):
    """Graph-store APPEND (round 14 — LSM parity with the IVF
    ``stream_append_batch``): build the store over ids < 400, then
    ``append_knn_graph`` the [400, 500) batch — each new vector gets
    its top-k edges over the UNION of old and new, symmetrized, so
    reverse edges give OLD nodes routes into the batch (without them
    the batch would be unreachable); old edge lists are NOT rewritten
    (new parquet files only — degree grows until
    ``compact_knn_graph``).  The walk then serves the appended store;
    the oracle re-derives old-base edges and batch edges as separate
    knn arms, symmetrized together — append ∘ serve value-hashed end
    to end."""
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.graph_ann import (
        append_knn_graph, graph_beam_topk, write_knn_graph,
    )
    from ..operators.similarity import collect_query_vector

    emb = t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="graph_app_")
    write_knn_graph(emb, out, k_neighbors=12, n_base=400)
    append_knn_graph(
        emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 500)), out
    )
    qv = collect_query_vector(emb, 77)
    return graph_beam_topk(
        spark, out, qv, k=10, beam=10, hops=3,
        entries=(0, 150, 300, 450), exclude_id=77,
    )


#: out-of-alphabet suffix for the SentencePiece query — uppercase,
#: apostrophe, em-dash, accents and punctuation exercise the <unk>
#: arm; digits and 'zz' hit single-char pieces the corpus never uses
_SP_SUFFIX = " Don't—naïve café, 123 zz!"


@query(
    "text_sp_unigram_ids",
    oracle=__import__(
        "webarchive_indexing_spark.operators.sp_unigram",
        fromlist=["sql_sp_unigram_ids"],
    ).sql_sp_unigram_ids(
        encode_limit=200, rounds=14,
        text_sql="text || ' Don''t—naïve café, 123 zz!'",
    ),
    tier="C",
)
def text_sp_unigram_ids(spark, sf_dir):
    """SentencePiece UNIGRAM-LM tokenization (round 14 — the other
    dominant public tokenizer family beside GPT-2 BPE; Llama/T5-style
    token counts): the fixture vocab is SERIALIZED to the public
    ``spm_export_vocab`` text grammar, re-LOADED through the
    quarantine parser (``sources/model_artifacts.py``), and applied
    by Viterbi segmentation in ONE Arrow pass (Spark-side whitespace
    pretokenization with the ▁ convention; centi-integer DP — no
    float accumulation — with deterministic fixed-width-key ties; the
    vocab rides as a broadcast-closure literal).  The oracle
    re-derives the hash-scored vocab AND the Viterbi DP as 14
    unrolled relational rounds (``sql_sp_unigram_ids``), so the value
    hash proves serialize → parse → segment produce THE same token
    ids — the fixed-tokenizer guarantee, now for the unigram family.
    The suffix pushes uppercase/accents/punctuation through the
    ``<unk>`` arm (min-score − 10, the SentencePiece default)."""
    import tempfile

    from ..operators.sp_unigram import sp_fixture_vocab, sp_unigram_encode
    from ..sources.model_artifacts import (
        load_sp_unigram_vocab,
        write_sp_unigram_vocab,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id", F.concat(F.col("text"), F.lit(_SP_SUFFIX)).alias("text")
    )
    art_dir = tempfile.mkdtemp(prefix="sp_art_")
    path = write_sp_unigram_vocab(
        sp_fixture_vocab(), art_dir + "/unigram.vocab"
    )
    vocab = load_sp_unigram_vocab(path)
    return sp_unigram_encode(d, vocab)


@query(
    "text_wordpiece_ids",
    oracle=__import__(
        "webarchive_indexing_spark.operators.wordpiece",
        fromlist=["sql_wordpiece_ids"],
    ).sql_wordpiece_ids(
        encode_limit=200, rounds=14,
        text_sql="text || ' Don''t—naïve café, 123 zz!'",
    ),
    tier="C",
)
def text_wordpiece_ids(spark, sf_dir):
    """WordPiece tokenization (round 15 — the THIRD dominant public
    tokenizer family after GPT-2 BPE and the SentencePiece unigram
    LM; BERT-style token counts): the fixture vocab is SERIALIZED to
    the public BERT ``vocab.txt`` grammar, re-LOADED through the
    quarantine parser (``sources/model_artifacts.py``), and applied
    by greedy longest-match-first segmentation in ONE Arrow pass
    (Spark-side whitespace pretokenization; ``##`` continuation
    matching; an unmatched position makes the WHOLE word one
    ``[UNK]`` — the published BERT rule).  The greedy chain is a
    deterministic single path, so the oracle precomputes each
    position's longest match once and unrolls the chain as 14
    bounded rounds (``sql_wordpiece_ids``) — the value hash proves
    serialize → parse → segment produce THE same token ids for the
    third tokenizer family.  The suffix pushes uppercase, accents,
    and punctuation through the whole-word [UNK] arm."""
    import tempfile

    from ..operators.wordpiece import WP_FIXTURE_PIECES, wordpiece_encode
    from ..sources.model_artifacts import (
        load_wordpiece_vocab,
        write_wordpiece_vocab,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id", F.concat(F.col("text"), F.lit(_SP_SUFFIX)).alias("text")
    )
    art_dir = tempfile.mkdtemp(prefix="wp_art_")
    path = write_wordpiece_vocab(
        list(WP_FIXTURE_PIECES), art_dir + "/vocab.txt"
    )
    vocab = load_wordpiece_vocab(path)
    return wordpiece_encode(d, vocab)


@query(
    "warc_rearchive_roundtrip",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, {_pii_text_sql()} AS ptext
      FROM documents WHERE doc_id < 100
    ), r AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(ptext,
                 '{PII_EMAIL}', '<EMAIL>', 'g'),
                 '{PII_IPV4}', '<IP>', 'g'),
                 '{PII_PHONE}', '<PHONE>', 'g') AS red
      FROM p
    )
    SELECT 'example,re)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
           '20210601120000' AS timestamp,
           'text/plain' AS mime,
           200 AS status,
           red AS text
    FROM r WHERE len(string_split(red, ' ')) >= 12
    """,
    tier="C",
)
def warc_rearchive_roundtrip(spark, sf_dir):
    """WARC PRODUCTION closed-loop (round 14 — the re-archiving step
    a curation pipeline needs to hand a CLEANED corpus downstream in
    the archival wire format, completing the producer story WET
    production started): PII-injected fixture text → the 3-stage
    scan-side redaction (the ``text_pii_redact`` regexes) → a word-
    count curation gate → ``write_warc`` (sharded response-record
    ``.warc.gz``, HTTP status/Content-Type/Content-Length + a
    ``WARC-Payload-Digest: sha1:<b32>`` header per record) →
    re-ingest through the engine's OWN reader.  urlkey, capture time,
    mime, HTTP status and the REDACTED payload must all survive the
    serialize → parse cycle byte-for-byte against the grammar oracle
    — so a takedown/compliance pass can provably round-trip through
    the format the whole ecosystem's tooling speaks."""
    import tempfile

    from ..sources.warc import index_warcs, write_warc

    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(_pii_text_col(), PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    rows = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", red.alias("red"))
        .filter(F.size(F.split(F.col("red"), " ")) >= 12)
        .select(
            F.concat(
                F.lit("http://re.example/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.lit("2021-06-01T12:00:00Z").alias("date_iso"),
            F.encode(F.col("red"), "UTF-8").alias("payload"),
            F.lit("text/plain").alias("mime"),
        )
    )
    out = tempfile.mkdtemp(prefix="rearchive_") + "/warc"
    manifest = write_warc(rows, out, n_files=2)
    warc = index_warcs(
        spark,
        spark.createDataFrame([(p,) for p, _n in manifest], ["path"]),
        keep_payload=("text/",),
    )
    return warc.select(
        "urlkey",
        "timestamp",
        "mime",
        "status",
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )


@query(
    "warc_revisit_dedup_roundtrip",
    oracle="""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 60
    ), caps AS (
      SELECT doc_id, '20200202000000' AS ts, text AS body FROM d
      UNION ALL
      SELECT doc_id, '20210303000000',
             CASE WHEN doc_id % 3 = 0 THEN text ELSE text || ' v2' END
      FROM d
    ), k AS (
      SELECT doc_id, ts, body,
             ROW_NUMBER() OVER (
               PARTITION BY body
               ORDER BY ts, 'http://rv.example/doc/' || doc_id
             ) AS rn,
             FIRST_VALUE(ts) OVER (
               PARTITION BY body
               ORDER BY ts, 'http://rv.example/doc/' || doc_id
             ) AS ots
      FROM caps
    )
    SELECT 'example,rv)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
           ts AS timestamp,
           CASE WHEN rn = 1 THEN 'text/plain'
                ELSE 'warc/revisit' END AS mime,
           CASE WHEN rn = 1 THEN 200 END AS status,
           CASE WHEN rn > 1 THEN ots END AS orig_ts,
           CASE WHEN rn = 1 THEN body END AS text
    FROM k
    """,
    tier="C",
)
def warc_revisit_dedup_roundtrip(spark, sf_dir):
    """Digest-based RESPONSE→REVISIT dedup at WARC-write time (round
    14 — the storage dedup archival crawlers apply; Heritrix/warcprox
    behavior, pywb's revisit semantics): two crawls of the same URLs
    (every third page unchanged on recrawl) → ``dedup_to_revisits``
    (one sha1-keyed window: first capture per payload digest stays a
    response, later identical captures become revisit rows) →
    ``write_warc(rec_type_col=…)`` emits the original bytes ONCE and
    BODILESS revisit records (declared ``WARC-Payload-Digest``,
    ``WARC-Refers-To-*`` headers, the identical-payload-digest
    profile) → re-ingest through the engine's own reader, which takes
    a revisit row's digest from the DECLARED header (pywb
    cdx-indexer parity, normalized b32→hex) — so the final
    revisit→original digest JOIN (``orig_ts``) proves the whole
    declare → serialize → parse → resolve chain.  The oracle
    reconstructs capture kinds and the original's timestamp from the
    crawl grammar."""
    import tempfile

    from ..sources.warc import dedup_to_revisits, index_warcs, write_warc

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    url = F.concat(
        F.lit("http://rv.example/doc/"), F.col("doc_id").cast("string")
    )
    c1 = d.select(
        url.alias("url"),
        F.lit("2020-02-02T00:00:00Z").alias("date_iso"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )
    c2 = d.select(
        url.alias("url"),
        F.lit("2021-03-03T00:00:00Z").alias("date_iso"),
        F.encode(
            F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" v2"))
            ),
            "UTF-8",
        ).alias("payload"),
        F.lit("text/plain").alias("mime"),
    )
    dd = dedup_to_revisits(c1.unionByName(c2))
    out = tempfile.mkdtemp(prefix="revdedup_") + "/warc"
    manifest = write_warc(dd, out, n_files=2, rec_type_col="rec_type")
    cdx = index_warcs(
        spark,
        spark.createDataFrame([(p,) for p, _n in manifest], ["path"]),
        keep_payload=("text/",),
    )
    orig = cdx.filter(F.col("mime") != "warc/revisit").select(
        "digest", F.col("timestamp").alias("__ots")
    )
    return (
        cdx.join(orig, "digest", "left")
        .select(
            "urlkey",
            "timestamp",
            "mime",
            "status",
            F.when(F.col("mime") == "warc/revisit", F.col("__ots")).alias(
                "orig_ts"
            ),
            F.when(
                F.col("mime") != "warc/revisit",
                F.decode(F.col("payload"), "UTF-8"),
            ).alias("text"),
        )
    )
