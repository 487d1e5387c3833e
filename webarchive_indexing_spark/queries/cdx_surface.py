"""CDX-server query surface (SURVEY.md §2.2 P1-P5, §3.3, tier B) over
a CDX view derived deterministically from the documents table.

Derivation contract: the Spark side CONSTRUCTS real URLs and runs the
engine's native SURT canonicalizer (functions.surt); the DuckDB oracle
constructs the EXPECTED urlkey directly from the same components.  A
hash match therefore end-to-end-verifies SURT on this URL family plus
the query semantics on top.  Capture fan-out (1-5 per doc), timestamps
and digests are pure integer/string arithmetic — identical in both
engines by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.surt import surt_urlkey_cached
from ..operators.collapse import collapse
from ..registry import query
from .helpers import t

# --- shared derivation -----------------------------------------------------
# k = capture index 1..(1 + doc_id % 4); x_* are integer mixers.

CDX_SQL = """
WITH cdx AS (
  SELECT
    'org,example,' || source || ')/doc/' || doc_id ||
      CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2' ELSE '' END AS urlkey,
    CAST(2015 + ((doc_id + k) % 3) AS VARCHAR)
      || lpad(CAST(1 + ((doc_id * 3 + k) % 12) AS VARCHAR), 2, '0')
      || lpad(CAST(1 + ((doc_id * 7 + k * 5) % 28) AS VARCHAR), 2, '0')
      || lpad(CAST((doc_id * 11 + k * 3) % 24 AS VARCHAR), 2, '0')
      || lpad(CAST((doc_id * 13 + k * 17) % 60 AS VARCHAR), 2, '0')
      || lpad(CAST((doc_id * 19 + k * 23) % 60 AS VARCHAR), 2, '0') AS ts14,
    CASE (doc_id * 2 + k) % 4
      WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/html'
      WHEN 2 THEN 'application/json' ELSE 'image/png' END AS mime,
    CASE WHEN (doc_id + k) % 10 = 0 THEN 404
         WHEN (doc_id + k) % 7 = 0 THEN 301 ELSE 200 END AS status,
    md5(text || CASE WHEN k > 3 THEN CAST(k AS VARCHAR) ELSE '' END) AS digest,
    n_chars + k AS length,
    doc_id * 1000 + k * 100 AS offset,
    'crawl-' || lpad(CAST(doc_id % 10 AS VARCHAR), 2, '0') || '.warc.gz' AS filename
  FROM (SELECT *, unnest(range(1, 2 + CAST(doc_id % 4 AS INT))) AS k FROM documents)
)
"""


def derived_cdx(spark: SparkSession, sf_dir: str, doc_pred=None) -> DataFrame:
    """Spark twin of CDX_SQL — but via real URL strings + native SURT.

    ``doc_pred`` (a Column predicate over the documents table) lets a
    query prune the derivation at the PARQUET SCAN — a urlkey filter
    on the derived frame cannot push below the SURT projection, but a
    doc_id/source predicate can, so single-subtree fixtures skip the
    canonicalization work for the rest of the corpus."""
    d = t(spark, sf_dir, "documents")
    if doc_pred is not None:
        d = d.filter(doc_pred)
    doc = F.col("doc_id")
    k = F.col("k")
    exploded = d.withColumn(
        "k", F.explode(F.sequence(F.lit(1), (F.lit(1) + F.pmod(doc, F.lit(4))).cast("int")))
    )
    # Real URL with mixed case / scheme / www / unsorted query — the
    # canonicalizer must normalize all of it to the oracle's key.
    url = F.concat(
        F.lit("https://WWW."),
        F.upper(F.substring("source", 1, 1)),
        F.expr("substring(source, 2)"),
        F.lit(".Example.org:443/doc/"),
        doc.cast("string"),
        F.when(doc % 3 == 0, F.lit("?b=2&a=1")).otherwise(F.lit("")),
    )
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    ts14 = F.concat(
        (F.lit(2015) + (doc + k) % 3).cast("string"),
        two(F.lit(1) + (doc * 3 + k) % 12),
        two(F.lit(1) + (doc * 7 + k * 5) % 28),
        two((doc * 11 + k * 3) % 24),
        two((doc * 13 + k * 17) % 60),
        two((doc * 19 + k * 23) % 60),
    )
    mime = (
        F.when((doc * 2 + k) % 4 <= 1, "text/html")
        .when((doc * 2 + k) % 4 == 2, "application/json")
        .otherwise("image/png")
    )
    status = (
        F.when((doc + k) % 10 == 0, 404).when((doc + k) % 7 == 0, 301).otherwise(200)
    )
    digest = F.md5(
        F.concat(F.col("text"), F.when(k > 3, k.cast("string")).otherwise(F.lit("")))
    )
    return exploded.withColumn("__url", url).select(
        surt_urlkey_cached("__url").alias("urlkey"),
        ts14.alias("ts14"),
        mime.alias("mime"),
        status.alias("status"),
        digest.alias("digest"),
        (F.col("n_chars") + k).alias("length"),
        (doc * 1000 + k * 100).alias("offset"),
        F.concat(
            F.lit("crawl-"), F.lpad((doc % 10).cast("string"), 2, "0"), F.lit(".warc.gz")
        ).alias("filename"),
    )


# --- queries ---------------------------------------------------------------


@query(
    "cdx_surt_urlkey",
    oracle=CDX_SQL + "SELECT DISTINCT urlkey FROM cdx",
)
def cdx_surt_urlkey(spark, sf_dir):
    """F1 SURT end-to-end: messy URLs (scheme, WWW., mixed case, :443,
    unsorted query) canonicalize to exactly the oracle's constructed
    keys.  Native expressions only — stays in whole-stage codegen."""
    return derived_cdx(spark, sf_dir).select("urlkey").distinct()


@query(
    "cdx_match_exact",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14, status, digest FROM cdx
    WHERE urlkey = 'org,example,src1)/doc/101'
    """,
)
def cdx_match_exact(spark, sf_dir):
    """P5 matchType=exact: all captures of one urlkey [B] — on the
    ZipNum layout this is the binary-search + single-block read path
    (SURVEY.md §3.3)."""
    return (
        derived_cdx(spark, sf_dir)
        .filter(F.col("urlkey") == "org,example,src1)/doc/101")
        .select("urlkey", "ts14", "status", "digest")
    )


@query(
    "cdx_match_prefix",
    oracle=CDX_SQL + """
    SELECT urlkey, COUNT(*) AS n_captures,
           MIN(ts14) AS first_ts, MAX(ts14) AS last_ts
    FROM cdx WHERE urlkey LIKE 'org,example,src1)%'
    GROUP BY urlkey
    """,
)
def cdx_match_prefix(spark, sf_dir):
    """P5 matchType=prefix/host: key-range scan [key, key+'~') [B];
    prunes to intersecting shards on range-sorted storage."""
    return (
        derived_cdx(spark, sf_dir)
        .filter(F.col("urlkey").startswith("org,example,src1)"))
        .groupBy("urlkey")
        .agg(
            F.count(F.lit(1)).alias("n_captures"),
            F.min("ts14").alias("first_ts"),
            F.max("ts14").alias("last_ts"),
        )
    )


@query(
    "cdx_match_domain",
    oracle=CDX_SQL + """
    SELECT status, COUNT(*) AS n
    FROM cdx WHERE urlkey LIKE 'org,example,src1%'
    GROUP BY status
    """,
)
def cdx_match_domain(spark, sf_dir):
    """P5 matchType=domain: SURT's host-reversal makes 'domain and all
    subdomains' a single string prefix — the reason the key format
    exists."""
    return (
        derived_cdx(spark, sf_dir)
        .filter(F.col("urlkey").startswith("org,example,src1"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "cdx_match_host",
    oracle=CDX_SQL + """
    SELECT status, COUNT(*) AS n
    FROM cdx WHERE urlkey LIKE 'org,example,src1)%'
    GROUP BY status
    """,
)
def cdx_match_host(spark, sf_dir):
    """P5 matchType=host [B pywb]: the EXACT host only — the ')' in
    the prefix excludes subdomains (org,example,src1,sub)/..., which
    matchType=domain would include).  Still a single range-prunable
    string prefix."""
    c = derived_cdx(spark, sf_dir)
    return (
        c.filter(F.col("urlkey").startswith("org,example,src1)"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "cdx_match_glob",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14, status FROM cdx
    WHERE urlkey LIKE 'org,example,src1)/doc/1%1%'
    """,
    tier="B",
)
def cdx_match_glob(spark, sf_dir):
    """P5 matchType=glob [B pywb url-wildcard subset]: a mid-path
    ``*`` in the query URL.  The literal prefix before the star stays
    a range-prunable key constraint (block pruning on ZipNum, shard
    pruning on sorted parquet); the LIKE residual is pure codegen.
    The messy input URL also re-exercises SURT: the wildcard must
    survive canonicalization untouched."""
    from ..operators.cdx_query import match_glob

    c = derived_cdx(spark, sf_dir)
    return match_glob(c, "https://WWW.Src1.Example.org:443/doc/1*1*").select(
        "urlkey", "ts14", "status"
    )


def _fuzzy_match_rules():
    """The cdx_fuzzy_match rule table: the global default families
    plus a SURT-prefix-SCOPED rule (pywb's per-domain rules.yaml
    blocks — here scoped to the src3 subtree so the same ``track=``
    param strips under src3 and falls through elsewhere) and the
    strip-entire-query terminal fallback."""
    from ..operators.cdx_query import (
        DEFAULT_FUZZY_RULES,
        REMOVEALL_RULE,
        FuzzyRule,
    )

    # select the global families BY NAME (a positional slice would
    # silently pick the wrong rules if the default table is reordered)
    by_name = {r.name: r for r in DEFAULT_FUZZY_RULES}
    return (
        by_name["jsonp"],
        by_name["cachebust"],
        by_name["session"],
        FuzzyRule(
            "tracker",
            r"([?&])track=[a-z0-9]+&?",
            key_prefix="org,example,src3)",
        ),
        REMOVEALL_RULE,
    )


def _fuzzy_oracle() -> str:
    """Oracle for cdx_fuzzy_match, generated from the SAME rule table
    the engine compiles (``_fuzzy_match_rules``) — the data-driven
    contract: adding a rule changes exactly one tuple and both engines
    pick it up."""
    from ..operators.cdx_query import sql_fuzzy_rule_exprs

    rule_case, fuzzy_case = sql_fuzzy_rule_exprs(
        "key_exact", _fuzzy_match_rules()
    )
    return CDX_SQL + f"""
    , lookups0 AS (
      SELECT doc_id,
             'org,example,' || source || ')/doc/' || doc_id ||
               CASE doc_id % 5
                 WHEN 0 THEN CASE WHEN doc_id % 3 = 0
                      THEN '?_cb=' || doc_id || '&a=1&b=2'
                      ELSE '?_cb=' || doc_id END
                 WHEN 1 THEN CASE WHEN doc_id % 3 = 0
                      THEN '?a=1&b=2&callback=jsonp' || doc_id
                      ELSE '?callback=jsonp' || doc_id END
                 WHEN 2 THEN CASE WHEN doc_id % 3 = 0
                      THEN '?a=1&b=2&sid=' || doc_id
                      ELSE '?sid=' || doc_id END
                 WHEN 3 THEN CASE WHEN doc_id % 3 = 0
                      THEN '?a=1&b=2&track=t' || doc_id
                      ELSE '?track=t' || doc_id END
                 ELSE CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2' ELSE '' END
               END AS key_exact
      FROM documents WHERE doc_id < 300
    ), lookups AS (
      SELECT doc_id, key_exact,
             {rule_case} AS fuzzy_rule,
             {fuzzy_case} AS key_fuzzy
      FROM lookups0
    ), keys AS (
      SELECT doc_id, key_exact AS k, 'exact' AS via, '' AS rule FROM lookups
      UNION ALL
      SELECT doc_id, key_fuzzy AS k, 'fuzzy' AS via,
             COALESCE(fuzzy_rule, '') AS rule FROM lookups
    ), m AS (
      SELECT k.doc_id, k.via, k.rule, c.ts14,
             MAX(CASE WHEN k.via = 'exact' THEN 1 ELSE 0 END)
               OVER (PARTITION BY k.doc_id) AS he
      FROM keys k JOIN cdx c ON k.k = c.urlkey
    )
    SELECT doc_id, via, rule, COUNT(*) AS n_captures,
           MIN(ts14) AS first_ts, MAX(ts14) AS last_ts
    FROM m WHERE via = 'exact' OR he = 0
    GROUP BY doc_id, via, rule
    """


@query(
    "cdx_fuzzy_match",
    oracle=_fuzzy_oracle(),
    tier="B",
)
def cdx_fuzzy_match(spark, sf_dir):
    """Fuzzy matching [B pywb fuzzy-match rules]: when a lookup's
    exact urlkey has no captures, the first applicable rule from a
    DATA-DRIVEN rule table (``_fuzzy_match_rules`` — digit cache
    busters, jsonp ``callback=``, session params in shapes SURT keeps,
    a SURT-prefix-SCOPED ``track=`` rule, and the strip-entire-query
    terminal fallback, mirroring pywb's default fuzzy rules file [U])
    strips the matched params and retries.  doc_id%5 picks the
    junk-param family; the %5 classes interleave with the %20 source
    cycle so the scoped family (r=3) spans src3/src8/src13/src18 —
    the scoped rule fires ONLY under its src3 prefix, while the same
    ``track=`` key on the other sources falls through to ``removeall``
    (a fuzzy hit for bare-key docs, an honest miss for query-key
    docs).  Done as a BATCH resolver — the cdx-server does this per
    request; a replay-QA pipeline does it for millions of lookups at
    once:

    * exact and fuzzy keys are derived scan-side (SURT + the rule
      table compiled to ONE first-match-wins CASE chain of regexps,
      prefix guards included, all codegen — adding rules never adds
      joins);
    * ONE equi-join: each lookup fans out to its (exact, fuzzy) key
      pair, joins the index once, and a per-lookup window keeps exact
      hits and lets fuzzy rows survive only when the lookup had no
      exact hit (also dedups the no-rule case where the keys are
      equal);
    * SURT's query-param sorting is re-exercised end-to-end: ``_cb``
      sorts FIRST in the canonical key while ``callback``/``sid``/
      ``track`` sort after the base params, so only canonicalization-
      aware stripping can make these hit.
    """
    return _fuzzy_match_plan(spark, sf_dir, _fuzzy_match_rules())


def _fuzzy_match_plan(spark, sf_dir, rules):
    """The shared batch fuzzy-resolver plan (see ``cdx_fuzzy_match``):
    parameterized on the rule table so the in-code-table query and the
    rules.yaml-loaded twin run the IDENTICAL plan."""
    from ..operators.cdx_query import apply_fuzzy_rules

    c = derived_cdx(spark, sf_dir)
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    doc = F.col("doc_id")
    r = F.pmod(doc, F.lit(5))
    q3 = doc % 3 == 0
    junk = (
        F.when(r == 0, F.concat(F.lit("_cb="), doc.cast("string")))
        .when(r == 1, F.concat(F.lit("callback=jsonp"), doc.cast("string")))
        .when(r == 2, F.concat(F.lit("sid="), doc.cast("string")))
        .when(r == 3, F.concat(F.lit("track=t"), doc.cast("string")))
    )
    # junk param FIRST, base params unsorted — SURT must both sort and
    # keep the junk for the rule table to strip post-canonicalization
    qs = F.when(
        r <= 3,
        F.concat(
            F.lit("?"), junk, F.when(q3, F.lit("&b=2&a=1")).otherwise(F.lit(""))
        ),
    ).otherwise(F.when(q3, F.lit("?b=2&a=1")).otherwise(F.lit("")))
    url = F.concat(
        F.lit("https://WWW."),
        F.upper(F.substring("source", 1, 1)),
        F.expr("substring(source, 2)"),
        F.lit(".Example.org:443/doc/"),
        doc.cast("string"),
        qs,
    )
    lookups = apply_fuzzy_rules(
        d.withColumn("__url", url).select(
            "doc_id", surt_urlkey_cached("__url").alias("key_exact")
        ),
        "key_exact",
        rules,
    )
    keys = lookups.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("key_exact").alias("k"),
                    F.lit("exact").alias("via"),
                    F.lit("").alias("rule"),
                ),
                F.struct(
                    F.col("key_fuzzy").alias("k"),
                    F.lit("fuzzy").alias("via"),
                    F.coalesce(F.col("fuzzy_rule"), F.lit("")).alias("rule"),
                ),
            )
        ).alias("kv"),
    ).select("doc_id", "kv.k", "kv.via", "kv.rule")
    cap = c.select("urlkey", "ts14")
    m = keys.alias("lk").join(cap.alias("cx"), F.col("lk.k") == F.col("cx.urlkey"))
    from pyspark.sql.window import Window

    has_exact = F.max(F.when(F.col("via") == "exact", 1).otherwise(0)).over(
        Window.partitionBy("doc_id")
    )
    return (
        m.select("doc_id", "via", "rule", "ts14", has_exact.alias("he"))
        .filter((F.col("via") == "exact") | (F.col("he") == 0))
        .groupBy("doc_id", "via", "rule")
        .agg(
            F.count(F.lit(1)).alias("n_captures"),
            F.min("ts14").alias("first_ts"),
            F.max("ts14").alias("last_ts"),
        )
    )


@query(
    "cdx_legacy_9field",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp,
           CAST(NULL AS VARCHAR) AS url,
           mime, status, digest,
           CAST(NULL AS VARCHAR) AS redirect,
           CAST(NULL AS VARCHAR) AS robotflags,
           CAST(NULL AS BIGINT) AS length,
           CAST("offset" AS BIGINT) AS offset,
           filename
    FROM cdx
    WHERE urlkey >= 'org,example,src6' AND urlkey < 'org,example,src6)~'
    """,
)
def cdx_legacy_9field(spark, sf_dir):
    """S5 legacy CDX dialects [U CDX spec; pywb cdx formats]: real
    archives carry 9/10-field CDX files whose field order is declared
    by the `` CDX ...`` header line, not fixed at 11 fields.  Fixture:
    the src6 subtree serialized as a gzipped 9-field ``CDX N b a m s
    k r V g`` archive (url/redirect '-', no robotflags/length
    columns); ``read_cdx_auto`` sniffs the header (one driver-side
    metadata-sized peek), maps positions dynamically, drops repeated
    header lines, and loads into the canonical 11-column schema —
    missing dialect columns come back NULL, which the oracle pins
    column-by-column.  The scan stays a declarative split-projection
    with the same try_element_at/try_cast damage tolerance as the
    classic reader; the fixture itself is written DISTRIBUTED
    (``write_lines_gz`` with the dialect header at each file head —
    the same executor-side path a real legacy-archive producer would
    use), never through driver-side row iteration."""
    import tempfile

    from ..sources.cdx import read_cdx_auto, write_lines_gz

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src6")
        & (F.col("urlkey") < "org,example,src6)~")
    )
    lines = c.select(
        F.concat_ws(
            " ",
            "urlkey",
            "ts14",
            F.lit("-"),
            "mime",
            F.col("status").cast("string"),
            "digest",
            F.lit("-"),
            F.col("offset").cast("string"),
            "filename",
        ).alias("value")
    )
    d = tempfile.mkdtemp(prefix="cdx_legacy_")
    write_lines_gz(lines, d, header=" CDX N b a m s k r V g")
    return read_cdx_auto(spark, d)


@query(
    "cdx_header_roundtrip",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp,
           'https://e/' || urlkey AS url,
           mime, status, digest,
           CAST(NULL AS VARCHAR) AS redirect,
           CAST(NULL AS VARCHAR) AS robotflags,
           CAST(length AS BIGINT) AS length,
           CAST("offset" AS BIGINT) AS offset,
           filename
    FROM cdx
    WHERE urlkey >= 'org,example,src7' AND urlkey < 'org,example,src7)~'
    """,
)
def cdx_header_roundtrip(spark, sf_dir):
    """S4/S5 self-describing CDX archives [U CDX spec; pywb
    write_cdx_index]: ``write_cdx_gz(header=True)`` emits the
    `` CDX N b a m s k r M S V g`` header line at every file head
    (Arrow-batched per-partition prepend), and ``read_cdx_auto``
    sniffs it back, maps positions from the DECLARED order, and drops
    the repeated per-file header lines — closing the write/read
    dialect asymmetry (files we write carry their own description for
    pywb and third-party toolchains alike).  The fixture writes 3
    part files so the hash also pins multi-file header dropping."""
    import tempfile

    from ..sources.cdx import read_cdx_auto, write_cdx_gz

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src7")
        & (F.col("urlkey") < "org,example,src7)~")
    )
    full = c.select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        F.concat(F.lit("https://e/"), F.col("urlkey")).alias("url"),
        "mime",
        "status",
        "digest",
        F.lit(None).cast("string").alias("redirect"),
        F.lit(None).cast("string").alias("robotflags"),
        F.col("length").cast("long").alias("length"),
        F.col("offset").cast("long").alias("offset"),
        "filename",
    )
    d = tempfile.mkdtemp(prefix="cdx_header_")
    write_cdx_gz(full.repartition(3), d, header=True)
    return read_cdx_auto(spark, d)


@query(
    "cdx_collapse_multi",
    oracle=CDX_SQL + """
    , runs AS (
      SELECT urlkey, ts14, status,
             LAG(substr(ts14, 1, 6)) OVER w AS pts,
             LAG(status) OVER w AS pst
      FROM cdx WHERE urlkey LIKE 'org,example,src8)%'
      WINDOW w AS (PARTITION BY urlkey ORDER BY ts14)
    )
    SELECT urlkey, ts14 AS timestamp, status FROM runs
    WHERE pts IS NULL OR substr(ts14, 1, 6) <> pts OR status <> pst
    """,
    tier="B",
)
def cdx_collapse_multi(spark, sf_dir):
    """W2 repeated ``collapse=`` [B pywb/IA cdx-server]: a capture is
    skipped only when ALL collapse fields match the previous one —
    here ``collapse=timestamp:6&collapse=status`` (same month AND same
    status → one row).  All-match over N fields is equality of the
    N-field STRUCT, so the plan is the IDENTICAL single lag window as
    single-field collapse — adding collapse dimensions never adds
    shuffles.  Runs through the composed API (``cdx_query`` with a
    collapse list)."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    return cdx_query(
        c,
        "http://src8.example.org/",
        match_type="domain",
        collapse=["timestamp:6", "status"],
        fields=["urlkey", "timestamp", "status"],
    )


@query(
    "cdxj_roundtrip",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp, mime, status
    FROM cdx WHERE status <> 200
    """,
)
def cdxj_roundtrip(spark, sf_dir):
    """S4/S5 CDXJ (the Common Crawl index line format): typed CDX →
    ``urlkey ts {json}`` lines → parsed back (JSON tail as a map) →
    typed projection.  Hash-checking the round trip pins the NULL-
    omission convention and the JSON escaping end-to-end against the
    relational recomputation."""
    from ..sources.cdx import parse_cdxj_lines, to_cdxj_lines

    c = derived_cdx(spark, sf_dir).filter(F.col("status") != 200)
    lines = to_cdxj_lines(
        c.select(
            "urlkey",
            F.col("ts14").alias("timestamp"),
            F.lit(None).cast("string").alias("url"),
            "mime",
            "status",
            "digest",
            F.lit(None).cast("string").alias("redirect"),
            F.lit(None).cast("string").alias("robotflags"),
            F.lit(None).cast("long").alias("length"),
            F.lit(None).cast("long").alias("offset"),
            F.lit(None).cast("string").alias("filename"),
        )
    )
    back = parse_cdxj_lines(lines)
    return back.select(
        "urlkey",
        "timestamp",
        F.col("props").getItem("mime").alias("mime"),
        F.col("props").getItem("status").cast("int").alias("status"),
    )


@query(
    "cdx_exclusion_filter",
    oracle=CDX_SQL + """
    SELECT status, COUNT(*) AS n
    FROM cdx
    WHERE NOT (urlkey LIKE 'org,example,src0)%'
            OR urlkey LIKE 'org,example,src3)%')
    GROUP BY status
    """,
)
def cdx_exclusion_filter(spark, sf_dir):
    """Access-control exclusion [B pywb ACL]: drop every capture whose
    urlkey falls under a blocklist of SURT prefixes — the
    takedown/robots enforcement pass an archive runs before serving.

    The blocklist rides as a broadcast prefix table and the probe is a
    LEFT ANTI non-equi join (startswith): with an ACL of thousands of
    rules the broadcast nested-loop stays cheap because the build side
    is the tiny rule list, and the index side streams through
    untouched — never shuffled, never collected."""
    c = derived_cdx(spark, sf_dir)
    acl = spark.createDataFrame(
        [("org,example,src0)",), ("org,example,src3)",)], ["prefix"]
    )
    kept = c.join(
        F.broadcast(acl),
        F.col("urlkey").startswith(F.col("prefix")),
        "left_anti",
    )
    return kept.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


_ACL_RULES = [
    ("org,example,src9", "exclude"),
    ("org,example,src9)/doc/9", "allow"),
    ("org,example,src19", "block"),
    # doc 39 is the src19 doc with a query string (39%20=19, 39%3=0)
    ("org,example,src19)/doc/39", "exclude"),
]


def _acl_oracle() -> str:
    from ..operators.cdx_query import sql_acl_access

    verdict = sql_acl_access("urlkey", _ACL_RULES)
    return CDX_SQL + f"""
    , judged AS (
      SELECT urlkey, ts14 AS timestamp, status,
             {verdict} AS access
      FROM cdx
      WHERE urlkey >= 'org,example,src1' AND urlkey < 'org,example,src:'
    )
    SELECT urlkey, timestamp, status, access FROM judged
    WHERE access <> 'exclude'
    """


@query(
    "cdx_acl_longest_prefix",
    oracle=_acl_oracle(),
    tier="B",
)
def cdx_acl_longest_prefix(spark, sf_dir):
    """[B pywb wb-manager .aclj ACLs]: access rules keyed by SURT
    prefix where the LONGEST matching prefix wins — here a host-wide
    ``exclude`` with one page carved back to ``allow``
    (src9 vs src9)/doc/9*), and a host-wide ``block`` (listed, 451 on
    playback) with one query-keyed page carved OUT to ``exclude``
    (src19 vs src19)/doc/19?*).  The rule table compiles to one
    longest-prefix-first CASE chain of startswith tests
    (``operators.cdx_query.apply_acl``) — map-side codegen, index
    never shuffles — and the oracle runs the SAME generated chain, so
    the hash pins the precedence order itself.  Note the prefix-range
    scan covers src1* and src9/src19 (the '):'-bounded range), giving
    allow/block/exclude and default-allow rows in one result."""
    from ..operators.cdx_query import apply_acl

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src1")
        & (F.col("urlkey") < "org,example,src:")
    )
    return apply_acl(
        c.select("urlkey", F.col("ts14").alias("timestamp"), "status"),
        _ACL_RULES,
    )


@query(
    "cdx_fuzzy_match_from_rules",
    oracle=_fuzzy_oracle(),
    tier="B",
)
def cdx_fuzzy_match_from_rules(spark, sf_dir):
    """P5 fuzzy matching driven by a REAL pywb ``rules.yaml`` file
    [U pywb default rules.yaml grammar]: the ``cdx_fuzzy_match`` rule
    table serialized into pywb's file format (per-SURT ``url_prefix``
    blocks, ``fuzzy_lookup`` match-regex mappings), written as a
    fixture, loaded back through ``sources.pywb_config
    .load_fuzzy_rules`` (the quarantine parser), and run through the
    IDENTICAL batch-resolver plan — so the oracle hash pins that a
    pywb operator's config file, loaded unmodified, produces
    byte-identical results to the in-code table.  The file is
    driver-side metadata (KBs); everything downstream is the same
    scan-side codegen CASE chain."""
    import os
    import tempfile

    from ..sources.pywb_config import dump_fuzzy_rules, load_fuzzy_rules

    d = tempfile.mkdtemp(prefix="pywb_rules_")
    path = os.path.join(d, "rules.yaml")
    with open(path, "w") as fh:
        fh.write(dump_fuzzy_rules(_fuzzy_match_rules()))
    rules, bad = load_fuzzy_rules(path)
    if bad:  # fixture we just wrote — any quarantine is a code bug
        raise ValueError(f"fixture rules.yaml quarantined entries: {bad}")
    return _fuzzy_match_plan(spark, sf_dir, rules)


@query(
    "cdx_acl_from_aclj",
    oracle=_acl_oracle(),
    tier="B",
)
def cdx_acl_from_aclj(spark, sf_dir):
    """ACLs driven by a REAL wb-manager ``.aclj`` file [U pywb
    wb-manager acl]: the ``cdx_acl_longest_prefix`` rule list
    serialized as reverse-key-sorted ``<surt> - {json}`` lines,
    written as a fixture, loaded back through ``sources.pywb_config
    .load_aclj`` (quarantine parser — a damaged line can never widen
    to a wildcard), and applied through the same longest-prefix-wins
    compiled CASE chain — the oracle hash pins that an archive's
    access-control file drops in unmodified."""
    import os
    import tempfile

    from ..operators.cdx_query import apply_acl
    from ..sources.pywb_config import dump_aclj, load_aclj

    d = tempfile.mkdtemp(prefix="pywb_aclj_")
    path = os.path.join(d, "access.aclj")
    with open(path, "w") as fh:
        fh.write(dump_aclj(_ACL_RULES, url_prefix="https://example.org/"))
    rules, bad = load_aclj(path)
    if bad:  # fixture we just wrote — any quarantine is a code bug
        raise ValueError(f"fixture aclj quarantined lines: {bad}")
    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src1")
        & (F.col("urlkey") < "org,example,src:")
    )
    return apply_acl(
        c.select("urlkey", F.col("ts14").alias("timestamp"), "status"),
        rules,
    )


@query(
    "cdx_from_to",
    oracle=CDX_SQL + """
    SELECT substr(ts14, 1, 6) AS yrmo, COUNT(*) AS n
    FROM cdx
    WHERE ts14 >= '2016' AND ts14 < '2017'
    GROUP BY yrmo
    """,
)
def cdx_from_to(spark, sf_dir):
    """P4 from/to: 14-digit prefix range as plain string compare [B]."""
    c = derived_cdx(spark, sf_dir)
    return (
        c.filter((F.col("ts14") >= "2016") & (F.col("ts14") < "2017"))
        .groupBy(F.substring("ts14", 1, 6).alias("yrmo"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "cdx_filter_fields",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14, mime FROM cdx
    WHERE status = 200 AND mime <> 'image/png'
      AND regexp_matches(urlkey, 'doc/[0-9]*[05]$')
    """,
)
def cdx_filter_fields(spark, sf_dir):
    """P1+P2+P3 combined: field projection (fl=) + regex/negation
    filters (filter=status:200&filter=!mime:image.*) [B]."""
    c = derived_cdx(spark, sf_dir)
    return c.filter(
        (F.col("status") == 200)
        & (F.col("mime") != "image/png")
        & F.col("urlkey").rlike("doc/[0-9]*[05]$")
    ).select("urlkey", "ts14", "mime")


@query(
    "cdx_collapse_digest",
    oracle=CDX_SQL + """
    SELECT urlkey, COUNT(*) AS n_kept FROM (
      SELECT urlkey, digest,
             LAG(digest) OVER (PARTITION BY urlkey ORDER BY ts14) AS prev
      FROM cdx
    ) WHERE prev IS NULL OR digest <> prev
    GROUP BY urlkey
    """,
)
def cdx_collapse_digest(spark, sf_dir):
    """W2 collapse=digest: keep first capture of each run of identical
    content — the cdx-server's dedup view of revisits [B]."""
    c = derived_cdx(spark, sf_dir)
    kept = collapse(
        c, partition_by=["urlkey"], order_by=["`ts14` ASC"], collapse_key="`digest`"
    )
    return kept.groupBy("urlkey").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "cdx_collapse_to_last",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp, digest FROM (
      SELECT urlkey, ts14, digest,
             LEAD(substr(ts14, 1, 4)) OVER (
               PARTITION BY urlkey ORDER BY ts14) AS nxt,
             substr(ts14, 1, 4) AS cur
      FROM cdx WHERE urlkey LIKE 'org,example,src5)%'
    ) WHERE nxt IS NULL OR cur <> nxt
    """,
    tier="B",
)
def cdx_collapse_to_last(spark, sf_dir):
    """W2 ``collapseToLast`` [U pywb query API]: each run of captures
    sharing a collapse key (here ``timestamp:4`` — same year) is
    represented by its LAST capture instead of its first — the
    "latest snapshot per period" view.  Mirror image of keep-first:
    one ``lead`` window instead of ``lag``, same single shuffle
    (operators/collapse.py keep=).  Runs through the composed API
    (``cdx_query(collapse=..., collapse_to_last=True)``); on this
    fixture most urlkeys span 2-3 years with multiple captures per
    year, so first- and last-kept rows genuinely differ and the hash
    pins the direction."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    return cdx_query(
        c,
        "http://src5.example.org/",
        match_type="domain",
        collapse="timestamp:4",
        collapse_to_last=True,
        fields=["urlkey", "timestamp", "digest"],
    )


@query(
    "cdx_collapse_group_count",
    oracle=CDX_SQL + """
    , runs AS (
      SELECT urlkey, ts14, substr(ts14, 1, 4) AS cur,
             CASE WHEN LAG(substr(ts14, 1, 4)) OVER w IS NULL
                    OR substr(ts14, 1, 4) <> LAG(substr(ts14, 1, 4)) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM cdx WHERE urlkey LIKE 'org,example,src3)%'
      WINDOW w AS (PARTITION BY urlkey ORDER BY ts14)
    ), ids AS (
      SELECT urlkey, ts14, chg,
             SUM(chg) OVER (PARTITION BY urlkey ORDER BY ts14
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM runs
    )
    SELECT urlkey, ts14 AS timestamp,
           CAST(COUNT(*) OVER (PARTITION BY urlkey, run_id) AS BIGINT)
             AS groupcount
    FROM ids QUALIFY chg = 1
    """,
    tier="B",
)
def cdx_collapse_group_count(spark, sf_dir):
    """[U IA wayback cdx-server ``showGroupCount=true``]: collapsed
    results annotated with how many captures each kept row stands for
    — the "12 snapshots this year" count a calendar UI renders
    without a second query.  Same-year runs collapse to their first
    capture carrying the run size; the gaps-and-islands run id and
    the count window share the collapse window's partitioning and
    ordering, so the annotation adds ZERO shuffles to plain collapse
    (plan-asserted).  Runs through the composed API
    (``cdx_query(collapse=..., show_group_count=True)``)."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    return cdx_query(
        c,
        "http://src3.example.org/",
        match_type="domain",
        collapse="timestamp:4",
        show_group_count=True,
        fields=["urlkey", "timestamp", "groupcount"],
    )


@query(
    "cdx_show_skip_count",
    oracle=CDX_SQL + """
    , marked AS (
      SELECT urlkey, ts14,
             ROW_NUMBER() OVER w AS rn,
             LAG(ts14) OVER w AS pts,
             CASE WHEN LAG(substr(ts14, 1, 4)) OVER w IS NULL
                    OR substr(ts14, 1, 4) <> LAG(substr(ts14, 1, 4)) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM cdx WHERE urlkey LIKE 'org,example,src3)%'
      WINDOW w AS (PARTITION BY urlkey ORDER BY ts14)
    ), kept AS (SELECT * FROM marked WHERE chg = 1)
    SELECT urlkey, ts14 AS timestamp,
           CAST(rn - COALESCE(LAG(rn) OVER kw, 0) - 1 AS BIGINT)
             AS skipcount,
           CASE WHEN rn - COALESCE(LAG(rn) OVER kw, 0) - 1 > 0
                THEN pts END AS lastskiptimestamp
    FROM kept
    WINDOW kw AS (PARTITION BY urlkey ORDER BY ts14)
    """,
    tier="B",
)
def cdx_show_skip_count(spark, sf_dir):
    """[U IA wayback cdx-server ``showSkipCount=true`` +
    ``lastskiptimestamp``]: each collapsed row reports how many
    captures the collapse dropped since the previously returned row,
    and the timestamp of the most recently dropped one — what a
    client uses to tell "sparse year" from "dense year rendered as
    one row" without re-querying uncollapsed.  skipcount is the
    row-number gap between consecutive survivors; in index order the
    last skipped capture is always the row immediately before the
    kept one, so lastskiptimestamp is a plain lag on the SAME
    window — both annotations reuse the collapse exchange
    (shuffle-neutral, plan-asserted alongside showGroupCount)."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    out = cdx_query(
        c,
        "http://src3.example.org/",
        match_type="domain",
        collapse="timestamp:4",
        show_skip_count=True,
        fields=["urlkey", "timestamp", "skipcount", "lastskiptimestamp"],
    )
    return out.withColumn("skipcount", F.col("skipcount").cast("bigint"))


@query(
    "cdx_collapse_timestamp",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14, digest FROM (
      SELECT urlkey, ts14, digest,
             LAG(substr(ts14, 1, 10)) OVER (
               PARTITION BY urlkey ORDER BY ts14, digest) AS prev,
             substr(ts14, 1, 10) AS cur
      FROM cdx
    ) WHERE prev IS NULL OR cur <> prev
    """,
)
def cdx_collapse_timestamp(spark, sf_dir):
    """W2 collapse=timestamp:10 [B pywb]: keep the first capture of
    each run sharing the first 10 timestamp digits (YYYYMMDDHH — one
    capture per urlkey per hour), the cdx-server's thinning view for
    dense crawls.  Same run-based lag as collapse=digest — one shuffle
    on urlkey, codegen throughout; (ts14, digest) ordering makes runs
    deterministic under ts ties."""
    c = derived_cdx(spark, sf_dir)
    kept = collapse(
        c,
        partition_by=["urlkey"],
        order_by=["`ts14` ASC", "`digest` ASC"],
        collapse_key="substring(`ts14`, 1, 10)",
    )
    return kept.select("urlkey", "ts14", "digest")


@query(
    "cdx_closest",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 FROM (
      SELECT urlkey, ts14,
             ROW_NUMBER() OVER (
               PARTITION BY urlkey
               ORDER BY ABS(CAST(ts14 AS BIGINT) - 20160601000000), ts14) AS rn
      FROM cdx
    ) WHERE rn = 1
    """,
)
def cdx_closest(spark, sf_dir):
    """O4/J7 sort=closest: per urlkey, the capture nearest the target
    timestamp [B].  Numeric distance on the 14-digit value ranks
    identically in both engines (monotone in |Δt| per fixed date
    shape); ts14 tiebreak keeps it deterministic."""
    from pyspark.sql.window import Window

    c = derived_cdx(spark, sf_dir)
    dist = F.abs(F.col("ts14").cast("bigint") - F.lit(20160601000000))
    w = Window.partitionBy("urlkey").orderBy(dist.asc(), F.col("ts14").asc())
    return c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).select(
        "urlkey", "ts14"
    )


def _zipnum_input(spark, sf_dir) -> DataFrame:
    """derived_cdx → the 11-field typed CDX shape the ZipNum sink
    writes (shared by the build / roundtrip queries)."""
    return derived_cdx(spark, sf_dir).select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        F.concat(F.lit("https://example.org/"), F.col("digest")).alias("url"),
        "mime",
        "status",
        "digest",
        F.lit(None).cast("string").alias("redirect"),
        F.lit(None).cast("string").alias("robotflags"),
        "length",
        "offset",
        "filename",
    )


#: DuckDB twin of the CDX line string to_cdx_lines emits for
#: _zipnum_input rows (NULL redirect/robotflags → '-').
_ZIPNUM_LINE_SQL = (
    "urlkey || ' ' || ts14 || ' ' || 'https://example.org/' || digest || ' ' || "
    "mime || ' ' || CAST(status AS VARCHAR) || ' ' || digest || ' - - ' || "
    "CAST(length AS VARCHAR) || ' ' || CAST(\"offset\" AS VARCHAR) || ' ' || filename"
)


@query(
    "zipnum_build_index",
    oracle=CDX_SQL + f"""
    , lines AS (
      SELECT {_ZIPNUM_LINE_SQL} AS value FROM cdx
    ), ranked AS (
      SELECT value, NTILE(8) OVER (ORDER BY value) AS shard_no FROM lines
    ), rn AS (
      SELECT value, shard_no,
             ROW_NUMBER() OVER (PARTITION BY shard_no ORDER BY value) AS r
      FROM ranked
    ), blocks AS (
      SELECT shard_no, CAST(FLOOR((r - 1) / 100) AS BIGINT) AS blk,
             MIN(value) AS first_line
      FROM rn GROUP BY shard_no, blk
    )
    SELECT 'cdx-' || lpad(CAST(shard_no - 1 AS VARCHAR), 5, '0') || '.gz' AS shard,
           blk,
           string_split(first_line, ' ')[1] AS first_urlkey,
           string_split(first_line, ' ')[2] AS first_ts
    FROM blocks
    """,
)
def zipnum_build_index(spark, sf_dir):
    """S6 ZipNum sink end-to-end [U zipnumclusterjob.py]: exact
    total-order shard bounds (the reference's split-points +
    TotalOrderPartitioner contract) → partition-local gzip-block
    writer → secondary index.  Byte offsets are writer-local, but with
    deterministic bounds every block's FIRST KEY and the per-shard
    block sequence are oracle-reproducible (NTILE + row arithmetic in
    DuckDB) — so the sink's chunking is hash-checked, not rows-only;
    zipnum_roundtrip_prefix value-checks the written DATA itself."""
    import tempfile

    from pyspark.sql.window import Window

    from ..sinks.zipnum import write_zipnum_ordered

    out = tempfile.mkdtemp(prefix="zipnum_query_")
    idx = write_zipnum_ordered(_zipnum_input(spark, sf_dir), out, shards=8, numlines=100)
    w = Window.partitionBy("shard").orderBy("offset")
    return idx.select(
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("blk"),
        F.col("urlkey").alias("first_urlkey"),
        F.col("timestamp").alias("first_ts"),
    )


@query(
    "zipnum_roundtrip_prefix",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp,
           'https://example.org/' || digest AS url,
           mime, status, digest,
           CAST(NULL AS VARCHAR) AS redirect,
           CAST(NULL AS VARCHAR) AS robotflags,
           CAST(length AS BIGINT) AS length,
           CAST("offset" AS BIGINT) AS "offset",
           filename
    FROM cdx WHERE urlkey LIKE 'org,example,src1%'
    """,
)
def zipnum_roundtrip_prefix(spark, sf_dir):
    """S6 value-checked end-to-end: build a ZipNum cluster (range
    shuffle → gzip blocks → secondary index), then answer a
    matchType=prefix query THROUGH the cluster (binary-search block
    pruning + ranged decompress) and hash-compare the recovered rows
    against the oracle's recomputation.  Shard assignment is
    nondeterministic (sampled range bounds) but the rows a key-range
    query returns are not — so the full write→prune→read→parse path
    is oracle-checkable even though byte offsets aren't."""
    import tempfile

    from ..sinks.zipnum import write_zipnum, zipnum_prefix_query

    out = tempfile.mkdtemp(prefix="zipnum_rt_")
    write_zipnum(_zipnum_input(spark, sf_dir), out, shards=8, numlines=100)
    return zipnum_prefix_query(spark, out, "org,example,src1")


@query(
    "zipnum_cdxj_roundtrip",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp,
           'https://example.org/' || digest AS url,
           mime, status, digest,
           CAST(NULL AS VARCHAR) AS redirect,
           CAST(NULL AS VARCHAR) AS robotflags,
           CAST(length AS BIGINT) AS length,
           CAST("offset" AS BIGINT) AS "offset",
           filename
    FROM cdx WHERE urlkey LIKE 'org,example,src7%'
    """,
)
def zipnum_cdxj_roundtrip(spark, sf_dir):
    """S6 CDXJ-format cluster (round 6): the REAL Common Crawl index
    stores ``urlkey ts {json}`` lines in its ZipNum shards, not the
    classic 11-field form.  ``write_zipnum(line_format='cdxj')``
    serializes blocks in that wire format (same leading ``urlkey ts``
    prefix, so every sort/prune/page invariant is untouched) and the
    reader's mixed-format line parser (``parse_cdx_any_lines`` — a
    per-line conditional on the third field's leading '{', no driver
    probe, no second scan) types them back: NULL-omitted JSON fields
    come back NULL exactly like classic '-' fields.  Same
    write→prune→read→parse value check as ``zipnum_roundtrip_prefix``,
    through the other wire format."""
    import tempfile

    from ..sinks.zipnum import write_zipnum, zipnum_prefix_query

    out = tempfile.mkdtemp(prefix="zipnum_cdxj_")
    write_zipnum(
        _zipnum_input(spark, sf_dir), out, shards=8, numlines=100,
        line_format="cdxj",
    )
    return zipnum_prefix_query(spark, out, "org,example,src7")


@query(
    "zipnum_shard_plan",
    oracle=CDX_SQL + """
    SELECT shard, COUNT(*) AS n_lines,
           MIN(urlkey) AS first_urlkey, MAX(urlkey) AS last_urlkey
    FROM (SELECT urlkey,
                 NTILE(8) OVER (ORDER BY urlkey, ts14) AS shard FROM cdx)
    GROUP BY shard
    """,
)
def zipnum_shard_plan(spark, sf_dir):
    """A5 exact split points [U samplecdxjob.py]: the reference
    SAMPLES every Nth CDX line to approximate balanced shard bounds;
    here the bounds are EXACT quantiles via the scalable two-pass
    global rank (operators.global_rank — range shuffle + per-partition
    windows, no single-task sort), allotment identical to SQL NTILE.
    Returns the shard plan (count + key range per shard) a ZipNum
    build at ``shards=8`` would ideally hit."""
    from ..operators.global_rank import exact_ntile

    c = derived_cdx(spark, sf_dir).select("urlkey", "ts14")
    tiles = exact_ntile(c, ["urlkey", "ts14"], 8, tile_col="shard")
    return tiles.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("urlkey").alias("first_urlkey"),
        F.max("urlkey").alias("last_urlkey"),
    )


@query(
    "cdx_page_blocks",
    oracle=CDX_SQL + f"""
    , lines AS (
      SELECT urlkey, ts14, status, digest, {_ZIPNUM_LINE_SQL} AS value FROM cdx
    ), ranked AS (
      SELECT *, NTILE(8) OVER (ORDER BY value) AS shard_no FROM lines
    ), assigned AS (
      SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY shard_no ORDER BY value)
                            - 1) / 100) AS BIGINT) AS blk
      FROM ranked
    ), blocks AS (
      SELECT shard_no, blk, MIN(value) AS first_line
      FROM assigned GROUP BY shard_no, blk
    ), ordered AS (
      SELECT shard_no, blk,
             string_split(first_line, ' ')[1] AS fk,
             string_split(first_line, ' ')[2] AS fts,
             LEAD(string_split(first_line, ' ')[1])
               OVER (ORDER BY string_split(first_line, ' ')[1],
                              string_split(first_line, ' ')[2],
                              shard_no, blk) AS nk,
             ROW_NUMBER()
               OVER (ORDER BY string_split(first_line, ' ')[1],
                              string_split(first_line, ' ')[2],
                              shard_no, blk) AS bo
      FROM blocks
    ), kept AS (
      SELECT shard_no, blk,
             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY bo) - 1) / 2) AS INT) AS page
      FROM ordered
      WHERE fk < 'org,example,src1~'
        AND (nk IS NULL OR nk >= 'org,example,src1')
    )
    SELECT k.page, a.urlkey, a.ts14 AS timestamp, a.status, a.digest
    FROM assigned a JOIN kept k USING (shard_no, blk)
    WHERE a.urlkey >= 'org,example,src1' AND a.urlkey < 'org,example,src1~'
    """,
    tier="B",
)
def cdx_page_blocks(spark, sf_dir):
    """O3 true ``page=N`` [B SURVEY §3.3]: cdx-server pagination slices
    the RANGE-PRUNED SECONDARY-INDEX BLOCK LIST into runs of pageSize
    blocks — NOT row offsets — so page k of any query costs exactly
    pageSize block decompressions wherever it falls in a petabyte
    index.  Built on write_zipnum_ordered (deterministic NTILE bounds
    → the block layout itself is oracle-reproducible), then every page
    of the prefix query is fetched via read_zipnum_page and tagged; the
    oracle recomputes the block assignment, the [lo,hi) prune over
    block first-keys (LEAD = successor key), and the page slicing.  A
    hash match proves the pages are disjoint, ordered, and tile the
    prefix result exactly."""
    import tempfile

    from ..sinks.zipnum import read_zipnum_pages, write_zipnum_ordered

    out = tempfile.mkdtemp(prefix="zipnum_pages_")
    write_zipnum_ordered(_zipnum_input(spark, sf_dir), out, shards=8, numlines=100)
    lo, hi = "org,example,src1", "org,example,src1~"
    return read_zipnum_pages(
        spark, out, key_lo=lo, key_hi=hi, page_size=2
    ).select("page", "urlkey", "timestamp", "status", "digest")


@query(
    "cdx_show_dupecount",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp, digest,
           CAST(ROW_NUMBER() OVER (PARTITION BY digest ORDER BY ts14) - 1
                AS BIGINT) AS dupecount
    FROM cdx WHERE urlkey LIKE 'org,example,src2)%'
    """,
    tier="B",
)
def cdx_show_dupecount(spark, sf_dir):
    """[B pywb ``showDupeCount=true``]: each capture carries how many
    EARLIER captures in the result set share its payload digest —
    dupecount=0 marks the original, >0 marks revisit-shaped rows the
    replay UI can badge.  One window (partition digest, order
    timestamp) over the match scope; at 100 TB the digest partition is
    the same shuffle key the revisit-resolve join already uses, so a
    composed server pipeline computes both in one exchange."""
    from pyspark.sql.window import Window

    c = derived_cdx(spark, sf_dir).filter(
        F.col("urlkey").startswith("org,example,src2)")
    )
    w = Window.partitionBy("digest").orderBy("ts14")
    return c.select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        "digest",
        (F.row_number().over(w) - 1).cast("bigint").alias("dupecount"),
    )


@query(
    "cdx_output_json",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp,
           '{"urlkey":"' || urlkey ||
           '","timestamp":"' || ts14 ||
           '","url":"https://example.org/' || digest ||
           '","mime":"' || mime ||
           '","status":' || CAST(status AS VARCHAR) ||
           ',"digest":"' || digest ||
           '","length":' || CAST(length AS VARCHAR) ||
           ',"offset":' || CAST("offset" AS VARCHAR) ||
           ',"filename":"' || filename || '"}' AS json_line
    FROM cdx WHERE urlkey LIKE 'org,example,src4)%'
    """,
    tier="B",
)
def cdx_output_json(spark, sf_dir):
    """[B pywb ``output=json``]: the cdx-server's JSON line format —
    one compact JSON object per capture, string fields quoted, numeric
    fields bare, '-' placeholder fields omitted (pywb drops them in
    json output).  Spark side uses the REAL ``to_json(struct(...))``
    operator (field order = struct order, no whitespace — the exact
    grammar the oracle re-derives by concatenation), so the hash match
    pins Spark's JSON serializer against a byte-level spec.  Map-only:
    formatting never shuffles."""
    c = derived_cdx(spark, sf_dir).filter(
        F.col("urlkey").startswith("org,example,src4)")
    )
    return c.select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        F.to_json(
            F.struct(
                F.col("urlkey"),
                F.col("ts14").alias("timestamp"),
                F.concat(F.lit("https://example.org/"), F.col("digest")).alias("url"),
                F.col("mime"),
                F.col("status"),
                F.col("digest"),
                F.col("length"),
                F.col("offset"),
                F.col("filename"),
            )
        ).alias("json_line"),
    )


@query(
    "cdx_page_reverse",
    oracle=CDX_SQL + f"""
    , lines AS (
      SELECT urlkey, ts14, status, {_ZIPNUM_LINE_SQL} AS value FROM cdx
    ), ranked AS (
      SELECT *, NTILE(8) OVER (ORDER BY value) AS shard_no FROM lines
    ), assigned AS (
      SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY shard_no ORDER BY value)
                            - 1) / 100) AS BIGINT) AS blk
      FROM ranked
    ), blocks AS (
      SELECT shard_no, blk, MIN(value) AS first_line
      FROM assigned GROUP BY shard_no, blk
    ), ordered AS (
      SELECT shard_no, blk,
             string_split(first_line, ' ')[1] AS fk,
             LEAD(string_split(first_line, ' ')[1])
               OVER (ORDER BY string_split(first_line, ' ')[1],
                              string_split(first_line, ' ')[2],
                              shard_no, blk) AS nk,
             ROW_NUMBER()
               OVER (ORDER BY string_split(first_line, ' ')[1],
                              string_split(first_line, ' ')[2],
                              shard_no, blk) AS bo
      FROM blocks
    ), fwd AS (
      SELECT shard_no, blk,
             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY bo) - 1) / 2) AS INT) AS page
      FROM ordered
      WHERE fk < 'org,example,src2~'
        AND (nk IS NULL OR nk >= 'org,example,src2')
    ), kept AS (
      SELECT shard_no, blk, MAX(page) OVER () - page AS page FROM fwd
    )
    SELECT k.page, a.urlkey, a.ts14 AS timestamp, a.status
    FROM assigned a JOIN kept k USING (shard_no, blk)
    WHERE a.urlkey >= 'org,example,src2' AND a.urlkey < 'org,example,src2~'
    """,
    tier="B",
)
def cdx_page_reverse(spark, sf_dir):
    """[B] ``page=`` combined with ``sort=reverse`` [pywb]: reverse
    pagination numbers the SAME block runs from the end of the pruned
    secondary-index range, so reverse page 0 holds the newest keys —
    still exactly pageSize block decompressions per request, wherever
    the page falls.  One tagged batch job over all pages
    (``read_zipnum_pages(reverse=True)``); the oracle recomputes the
    forward page tiling and flips the numbering (``max(page) - page``),
    proving forward/reverse pages mirror block-for-block."""
    import tempfile

    from ..sinks.zipnum import read_zipnum_pages, write_zipnum_ordered

    out = tempfile.mkdtemp(prefix="zipnum_rev_")
    write_zipnum_ordered(_zipnum_input(spark, sf_dir), out, shards=8, numlines=100)
    lo, hi = "org,example,src2", "org,example,src2~"
    return read_zipnum_pages(
        spark, out, key_lo=lo, key_hi=hi, page_size=2, reverse=True
    ).select("page", "urlkey", "timestamp", "status")


@query(
    "cdx_show_paged_index",
    oracle=CDX_SQL + f"""
    , lines AS (
      SELECT {_ZIPNUM_LINE_SQL} AS value FROM cdx
    ), ranked AS (
      SELECT value, NTILE(8) OVER (ORDER BY value) AS shard_no FROM lines
    ), assigned AS (
      SELECT value, shard_no,
             CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY shard_no ORDER BY value)
                         - 1) / 20) AS BIGINT) AS blk
      FROM ranked
    ), blocks AS (
      SELECT shard_no, blk, MIN(value) AS first_line
      FROM assigned GROUP BY shard_no, blk
    ), ordered AS (
      SELECT shard_no, blk,
             string_split(first_line, ' ')[1] AS fk,
             string_split(first_line, ' ')[2] AS fts,
             LEAD(string_split(first_line, ' ')[1])
               OVER (ORDER BY string_split(first_line, ' ')[1],
                              string_split(first_line, ' ')[2],
                              shard_no, blk) AS nk,
             ROW_NUMBER()
               OVER (ORDER BY string_split(first_line, ' ')[1],
                              string_split(first_line, ' ')[2],
                              shard_no, blk) AS bo
      FROM blocks
    ), kept AS (
      SELECT shard_no, fk, fts,
             ROW_NUMBER() OVER (ORDER BY bo) AS krn
      FROM ordered
      WHERE fk < 'org,example,src2~'
        AND (nk IS NULL OR nk >= 'org,example,src2')
    )
    SELECT CAST(FLOOR((krn - 1) / 2) AS INT) AS page,
           fk AS urlkey, fts AS timestamp,
           'cdx-' || lpad(CAST(shard_no - 1 AS VARCHAR), 5, '0') || '.gz' AS shard
    FROM kept
    """,
    tier="B",
)
def cdx_show_paged_index(spark, sf_dir):
    """[B pywb ``showPagedIndex=true``]: paged queries can return the
    secondary-index lines themselves instead of decompressed CDX —
    the cc-index bulk-export handshake (clients take the idx page,
    then issue their own ranged block fetches).  The engine answers
    from the range-pruned ``cluster.idx`` alone — ZERO shard bytes
    read, result metadata-sized (one row per block) — while the
    oracle recomputes every block's first key/timestamp and shard
    assignment from the NTILE tiling, so the hash pins the page
    numbering, the block boundary keys, and the shard naming of the
    export surface (byte offsets stay writer-local, as in
    ``zipnum_shard_plan``)."""
    import tempfile

    from ..sinks.zipnum import read_zipnum_paged_index, write_zipnum_ordered

    out = tempfile.mkdtemp(prefix="zipnum_pidx_")
    write_zipnum_ordered(_zipnum_input(spark, sf_dir), out, shards=8, numlines=20)
    return read_zipnum_paged_index(
        spark,
        out,
        key_lo="org,example,src2",
        key_hi="org,example,src2~",
        page_size=2,
    ).select("page", "urlkey", "timestamp", "shard")


@query(
    "cdx_resume_key",
    oracle=CDX_SQL + """
    SELECT CAST(FLOOR((rn - 1) / 40) AS INT) AS request_no,
           urlkey, timestamp, status
    FROM (
      SELECT urlkey, ts14 AS timestamp, status,
             ROW_NUMBER() OVER (ORDER BY urlkey, ts14) AS rn
      FROM cdx WHERE urlkey LIKE 'org,example,src0)%'
    ) WHERE rn <= 80
    """,
    tier="B",
)
def cdx_resume_key(spark, sf_dir):
    """[B pywb ``resumeKey``/``showResumeKey``]: paging a large result
    set in bounded requests — request 1 is the prefix query with
    ``limit=40``; its LAST ROW is the opaque resume key; request 2
    re-issues the query with ``resume_key=`` and continues strictly
    after it.  The continuation predicate is a sargable range over the
    leading sort key, so every resumed request still block-prunes
    (ZipNum) / row-group-prunes (parquet) rather than skipping rows —
    the property that makes deep paging O(page), not O(offset).  The
    driver-side key handoff between the two requests here is exactly
    the client/server round-trip; the oracle recomputes both pages
    from one ranked scan and a hash match proves the stitched pages
    tile the result without gap or overlap."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    url, mt, L = "http://src0.example.org/", "domain", 40
    fields = ["urlkey", "timestamp", "status"]
    page1 = cdx_query(c, url, match_type=mt, fields=fields, limit=L)
    rows1 = page1.collect()
    out1 = spark.createDataFrame(rows1, page1.schema).withColumn(
        "request_no", F.lit(0)
    )
    if len(rows1) < L:
        return out1.select("request_no", *fields)
    last = rows1[-1]
    page2 = cdx_query(
        c,
        url,
        match_type=mt,
        fields=fields,
        limit=L,
        resume_key=(last.urlkey, last.timestamp),
    ).withColumn("request_no", F.lit(1))
    return out1.unionByName(page2).select("request_no", *fields)


@query(
    "cdx_resume_key_tiebreak",
    oracle=CDX_SQL + """
    , dup AS (
      SELECT urlkey, ts14, digest FROM cdx
      UNION ALL
      SELECT urlkey, ts14, digest || 'x' AS digest FROM cdx
    )
    SELECT CAST(FLOOR((rn - 1) / 41) AS INT) AS request_no,
           urlkey, timestamp, digest
    FROM (
      SELECT urlkey, ts14 AS timestamp, digest,
             ROW_NUMBER() OVER (ORDER BY urlkey, ts14, digest) AS rn
      FROM dup WHERE urlkey LIKE 'org,example,src5)%'
    ) WHERE rn <= 82
    """,
    tier="B",
)
def cdx_resume_key_tiebreak(spark, sf_dir):
    """[B round-6 ADVICE fix: resumeKey over same-second recrawls]
    Every capture is duplicated at the SAME (urlkey, timestamp) with a
    distinct digest, and the page size (41) is odd so a page boundary
    always lands INSIDE a duplicate pair.  The pywb-compatible 2-tuple
    resume key would silently drop the pair's second row between
    pages; the 3-tuple ``(urlkey, timestamp, digest)`` form with
    ``tiebreak="digest"`` joins the tiebreak column to both the sort
    order and the continuation predicate, so the stitched pages tile
    the duplicate-heavy result gap-free — which the oracle's single
    ranked scan hash-verifies.  The continuation predicate stays
    sargable on the leading (urlkey, timestamp) keys; the digest test
    only refines the boundary row."""
    from ..operators.cdx_query import cdx_query

    base = derived_cdx(spark, sf_dir).select(
        "urlkey", F.col("ts14").alias("timestamp"), "digest"
    )
    dup = base.unionByName(
        base.withColumn("digest", F.concat(F.col("digest"), F.lit("x")))
    )
    url, mt, L = "http://src5.example.org/", "domain", 41
    fields = ["urlkey", "timestamp", "digest"]
    page1 = cdx_query(
        dup, url, match_type=mt, fields=fields, limit=L, tiebreak="digest"
    )
    rows1 = page1.collect()
    out1 = spark.createDataFrame(rows1, page1.schema).withColumn(
        "request_no", F.lit(0)
    )
    if len(rows1) < L:
        return out1.select("request_no", *fields)
    last = rows1[-1]
    page2 = cdx_query(
        dup,
        url,
        match_type=mt,
        fields=fields,
        limit=L,
        tiebreak="digest",
        resume_key=(last.urlkey, last.timestamp, last.digest),
    ).withColumn("request_no", F.lit(1))
    return out1.unionByName(page2).select("request_no", *fields)


@query(
    "cdx_fuzzy_filtered_retry",
    oracle=CDX_SQL + """
    , aug AS (
      SELECT urlkey, ts14, status FROM cdx
      WHERE urlkey LIKE 'org,example,src1)%'
      UNION ALL
      SELECT urlkey || '?_cb=77' AS urlkey, ts14, 404 AS status
      FROM cdx WHERE urlkey = 'org,example,src1)/doc/101'
    ), r0 AS (
      SELECT urlkey, ts14, status,
             MAX(CASE WHEN urlkey = 'org,example,src1)/doc/101?_cb=77'
                      THEN 1 ELSE 0 END) OVER () AS he
      FROM aug
      WHERE urlkey IN ('org,example,src1)/doc/101?_cb=77',
                       'org,example,src1)/doc/101')
        AND status = 200
    ), r1 AS (
      SELECT urlkey, ts14, status,
             MAX(CASE WHEN urlkey = 'org,example,src1)/doc/101?_cb=77'
                      THEN 1 ELSE 0 END) OVER () AS he
      FROM aug
      WHERE urlkey IN ('org,example,src1)/doc/101?_cb=77',
                       'org,example,src1)/doc/101')
        AND status = 404
    )
    SELECT 0 AS request_no, urlkey, ts14 AS timestamp, status FROM r0
    WHERE urlkey = 'org,example,src1)/doc/101?_cb=77' OR he = 0
    UNION ALL
    SELECT 1 AS request_no, urlkey, ts14 AS timestamp, status FROM r1
    WHERE urlkey = 'org,example,src1)/doc/101?_cb=77' OR he = 0
    """,
    tier="B",
)
def cdx_fuzzy_filtered_retry(spark, sf_dir):
    """[B pywb empty-result-triggered fuzzy retry — round-6 ADVICE
    fix]: ``fuzzy=True`` must fall back to the rule-stripped key when
    the exact key's FILTERED window is empty, not only when the exact
    key has zero captures at all.  Fixture: doc 101's captures are
    duplicated under a cache-busted key with status=404.  Request 0
    (``filter=status:200``) finds exact rows but they all fail the
    filter → the fuzzy (stripped) captures answer.  Request 1
    (``filter=status:404``) keeps the exact rows → fuzzy suppressed.
    Both requests run through the composed per-request API
    (``operators.cdx_query.cdx_query``); the plan is still one
    pushed-down 2-key IN scan + residual filter + one global window
    per request.  The fixture derivation is pruned to the src1 subtree
    AT THE DOCUMENTS SCAN (``doc_pred`` — a urlkey filter could not
    push below the SURT projection) since both requests only touch
    src1 keys."""
    from ..operators.cdx_query import cdx_query

    base = derived_cdx(
        spark, sf_dir, doc_pred=F.pmod(F.col("doc_id"), F.lit(20)) == 1
    ).select("urlkey", F.col("ts14").alias("timestamp"), "status")
    synth = (
        base.filter(F.col("urlkey") == "org,example,src1)/doc/101")
        .withColumn("urlkey", F.concat(F.col("urlkey"), F.lit("?_cb=77")))
        .withColumn("status", F.lit(404))
    )
    aug = base.unionByName(synth)
    url = "https://src1.example.org/doc/101?_cb=77"
    fields = ["urlkey", "timestamp", "status"]
    r0 = cdx_query(
        aug, url, fuzzy=True, filters=["status:200"], fields=fields
    ).withColumn("request_no", F.lit(0))
    r1 = cdx_query(
        aug, url, fuzzy=True, filters=["status:404"], fields=fields
    ).withColumn("request_no", F.lit(1))
    return r0.unionByName(r1).select("request_no", *fields)


@query(
    "cdx_timemap_linkformat",
    oracle=CDX_SQL + """
    , sub AS (
      SELECT urlkey, ts14 FROM cdx
      WHERE urlkey >= 'org,example,src4' AND urlkey < 'org,example,src4)~'
    ), ranked AS (
      SELECT urlkey, ts14,
             ROW_NUMBER() OVER (PARTITION BY urlkey ORDER BY ts14) AS rn,
             COUNT(*) OVER (PARTITION BY urlkey) AS n
      FROM sub
    ), mementos AS (
      SELECT urlkey, CAST(rn AS INT) AS line_no,
             '<https://web.archive.example/web/' || ts14 || 'id_/' || urlkey
               || '>; rel="'
               || CASE WHEN rn = 1 AND rn = n THEN 'first last memento'
                       WHEN rn = 1 THEN 'first memento'
                       WHEN rn = n THEN 'last memento'
                       ELSE 'memento' END
               || '"; datetime="'
               || strftime(strptime(ts14, '%Y%m%d%H%M%S'),
                           '%a, %d %b %Y %H:%M:%S GMT')
               || '"' || CASE WHEN rn = n THEN '' ELSE ',' END AS line
      FROM ranked
    )
    SELECT urlkey, 0 AS line_no,
           '<' || urlkey || '>; rel="original",' AS line
    FROM (SELECT DISTINCT urlkey FROM sub)
    UNION ALL
    SELECT urlkey, line_no, line FROM mementos
    """,
    tier="B",
)
def cdx_timemap_linkformat(spark, sf_dir):
    """Memento TimeMap wire format [B RFC 7089 §5 application/
    link-format; pywb /timemap/link/ endpoint]: per URI-R, the
    ``<uri>; rel="..."; datetime="..."`` link-value lines — rel
    first/last memento markers, RFC-1123 datetimes, comma-continuation
    on every line except the map's last.  Pure map-side projection
    (concat + date_format over one ranked window on the urlkey the
    index is already sorted by); the hash pins the exact line grammar
    both engines must emit, like ``cdx_output_json`` does for the JSON
    lines.  Serialization lives in ``operators.timemap`` — the same
    code path the CLI ``timemap`` subcommand serves, so the pinned
    grammar IS the served grammar."""
    from ..operators.timemap import timemap_linkformat

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src4")
        & (F.col("urlkey") < "org,example,src4)~")
    )
    return timemap_linkformat(c.select("urlkey", "ts14"))


@query(
    "cdx_timemap_json",
    oracle=CDX_SQL + """
    , ranked AS (
      SELECT urlkey, ts14,
             ROW_NUMBER() OVER (PARTITION BY urlkey ORDER BY ts14) AS rn,
             COUNT(*) OVER (PARTITION BY urlkey) AS n
      FROM cdx
      WHERE urlkey >= 'org,example,src4' AND urlkey < 'org,example,src4)~'
    )
    SELECT urlkey, CAST(rn AS INT) AS line_no,
           '{"urlkey":"' || urlkey ||
           '","timestamp":"' || ts14 ||
           '","memento":"https://web.archive.example/web/' || ts14
             || 'id_/' || urlkey ||
           '","rel":"' ||
           CASE WHEN rn = 1 AND rn = n THEN 'first last memento'
                WHEN rn = 1 THEN 'first memento'
                WHEN rn = n THEN 'last memento'
                ELSE 'memento' END ||
           '","datetime":"' ||
           strftime(strptime(ts14, '%Y%m%d%H%M%S'),
                    '%a, %d %b %Y %H:%M:%S GMT') || '"}' AS line
    FROM ranked
    """,
    tier="B",
)
def cdx_timemap_json(spark, sf_dir):
    """Memento TimeMap, JSON serialization [B pywb /timemap/json/
    endpoint]: one compact JSON object per memento — rewrite URL,
    first/last rel markers, RFC-1123 datetime — emitted with the REAL
    ``to_json(struct(...))`` serializer while the oracle re-derives
    the byte-exact grammar by concatenation (same pinning pattern as
    ``cdx_output_json``).  Same single ranked window as the
    link-format TimeMap; serialization itself is map-only and lives
    in ``operators.timemap`` — the CLI serves this exact code path."""
    from ..operators.timemap import timemap_json

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src4")
        & (F.col("urlkey") < "org,example,src4)~")
    )
    return timemap_json(c.select("urlkey", "ts14"))


_TM_DT = "strftime(strptime({ts}, '%Y%m%d%H%M%S'), '%a, %d %b %Y %H:%M:%S GMT')"
_TM_URI = "'https://web.archive.example/timemap/link/' || urlkey || '?page='"


@query(
    "cdx_timemap_paged",
    oracle=CDX_SQL + f"""
    , sub AS (
      SELECT urlkey, ts14 FROM cdx
      WHERE urlkey >= 'org,example,src4' AND urlkey < 'org,example,src4)~'
    ), ranked AS (
      SELECT urlkey, ts14,
             ROW_NUMBER() OVER (PARTITION BY urlkey ORDER BY ts14) AS rn,
             COUNT(*) OVER (PARTITION BY urlkey) AS n
      FROM sub
    ), paged AS (
      SELECT *, CAST((rn - 1) // 5 AS INT) AS page,
             CAST((n + 4) // 5 AS INT) AS n_pages
      FROM ranked
    ), pg AS (
      SELECT *,
             MIN(ts14) OVER (PARTITION BY urlkey, page) AS pg_first,
             MAX(ts14) OVER (PARTITION BY urlkey, page) AS pg_last,
             COUNT(*) OVER (PARTITION BY urlkey, page) AS pg_n,
             ROW_NUMBER() OVER (PARTITION BY urlkey, page ORDER BY ts14) AS pg_rn
      FROM paged
    ), heads AS (SELECT * FROM pg WHERE pg_rn = 1)
    SELECT urlkey, page, 0 AS line_no,
           '<' || urlkey || '>; rel="original",' AS line
    FROM heads
    UNION ALL
    SELECT urlkey, page, 1,
           '<' || {_TM_URI} || CAST(page AS VARCHAR)
             || '>; rel="self"; type="application/link-format"; from="'
             || {_TM_DT.format(ts='pg_first')} || '"; until="'
             || {_TM_DT.format(ts='pg_last')} || '",'
    FROM heads
    UNION ALL
    SELECT urlkey, page, 2,
           '<' || {_TM_URI} || CAST(page - 1 AS VARCHAR)
             || '>; rel="prev"; type="application/link-format",'
    FROM heads WHERE page > 0
    UNION ALL
    SELECT urlkey, page, 3,
           '<' || {_TM_URI} || CAST(page + 1 AS VARCHAR)
             || '>; rel="next"; type="application/link-format",'
    FROM heads WHERE page < n_pages - 1
    UNION ALL
    SELECT urlkey, page, CAST(pg_rn + 3 AS INT),
           '<https://web.archive.example/web/' || ts14 || 'id_/' || urlkey
             || '>; rel="'
             || CASE WHEN rn = 1 AND rn = n THEN 'first last memento'
                     WHEN rn = 1 THEN 'first memento'
                     WHEN rn = n THEN 'last memento'
                     ELSE 'memento' END
             || '"; datetime="' || {_TM_DT.format(ts='ts14')} || '"'
             || CASE WHEN pg_rn = pg_n THEN '' ELSE ',' END
    FROM pg
    """,
    tier="B",
)
def cdx_timemap_paged(spark, sf_dir):
    """Paged TimeMaps [B RFC 7089 §5 paging]: an IA-scale URI-R has
    millions of captures, so the TimeMap splits into fixed-size pages
    each carrying self (with from/until datetimes of ITS span) +
    prev/next timemap link-values, the chain clients walk.  rel
    first/last markers stay GLOBAL (the map's first and last memento,
    whatever page they land on); comma continuation resets per page
    (each page is a complete link-format document).  The hash pins
    the entire multi-page grammar at page_size=5 over the src4
    subtree.  Same single ranked window as the unpaged serializer —
    page number is arithmetic on the rank, no second shuffle."""
    from ..operators.timemap import timemap_linkformat_paged

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src4")
        & (F.col("urlkey") < "org,example,src4)~")
    )
    return timemap_linkformat_paged(c.select("urlkey", "ts14"), page_size=5)


@query(
    "cdx_robots_flags",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(substr(source, 4, 8) AS INT) AS sn,
             CASE WHEN doc_id % 5 = 0
                  THEN '/doc/pub/' || CAST(doc_id AS VARCHAR)
                  ELSE '/doc/' || CAST(doc_id AS VARCHAR) END AS path
      FROM documents
    )
    SELECT doc_id,
           'https://' || source || '.example.org' || path AS url,
           CASE WHEN sn % 3 = 0 AND substr(path, 1, 8) <> '/doc/pub'
                THEN 'A'
                WHEN sn % 3 = 1 AND doc_id % 10 = 7
                THEN 'A'
                ELSE CAST(NULL AS VARCHAR) END AS robotflags
    FROM d
    """,
    tier="B",
)
def cdx_robots_flags(spark, sf_dir):
    """B-tier robots evaluation [B IA CDX robotflags 'A' =
    blocked-by-robots]: the engine's parsers round-trip the
    robotflags field but nothing COMPUTED it — this is the evaluator.
    Per-host robots.txt text (synthesized: every third source
    disallows /doc/ with an Allow: /doc/pub carve-back; the next arm
    exercises the round-10 FULL RFC 9309 pattern grammar — an empty
    star-group Disallow (the classic allow-all no-op, dropped) behind
    another agent's block, plus ``Disallow: /doc/*7$`` whose ``*``
    run and ``$`` end-anchor must flag exactly the captures whose
    path ends in 7; the rest publish no robots.txt) parses through
    ``parse_robots`` (posexplode + per-HOST window over line
    positions — robots files are small, nothing globally ordered;
    patterns compile to LIKE once at parse time) and applies through
    ``apply_robots`` (ONE equi-join on host, LIKE test as join
    residual, longest-match-Allow-wins argmax keyed on a surrogate
    row id).  The oracle recomputes every flag from the generator
    arithmetic, so a hash match proves parse ∘ apply end to end —
    the multimodal_decode_real pattern for a text grammar."""
    from ..operators.robots import apply_robots, parse_robots

    d = t(spark, sf_dir, "documents")
    path = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("/doc/pub/"), F.col("doc_id").cast("string")),
    ).otherwise(F.concat(F.lit("/doc/"), F.col("doc_id").cast("string")))
    cdx = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org"), path
        ).alias("url"),
    )
    sn = F.substring("source", 4, 8).cast("int")
    hosts = d.select("source", sn.alias("sn")).distinct()
    robots = hosts.filter(F.col("sn") % 3 < 2).select(
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"),
        F.when(
            F.col("sn") % 3 == 0,
            F.lit(
                "# crawl policy\nUser-agent: *\nDisallow: /doc/\n"
                "Allow: /doc/pub\n"
            ),
        ).otherwise(
            F.lit(
                "User-agent: badbot\nDisallow: /\n\n"
                "User-agent: extra\nUser-agent: *\nDisallow:\n"
                "Disallow: /doc/*7$\n"
            )
        ).alias("robots_txt"),
    )
    return apply_robots(cdx, parse_robots(robots))


@query(
    "cdx_timegate",
    oracle=CDX_SQL + """
    , sub AS (
      SELECT urlkey, ts14 FROM cdx
      WHERE urlkey >= 'org,example,src4' AND urlkey < 'org,example,src4)~'
    ), ranked AS (
      SELECT urlkey, ts14,
             ROW_NUMBER() OVER (
               PARTITION BY urlkey
               ORDER BY abs(CAST(ts14 AS BIGINT) - 20160101000000), ts14
             ) AS rn,
             MIN(ts14) OVER (PARTITION BY urlkey) AS first_ts,
             MAX(ts14) OVER (PARTITION BY urlkey) AS last_ts
      FROM sub
    )
    SELECT urlkey, 302 AS status,
           'https://web.archive.example/web/' || ts14 || 'id_/' || urlkey
             AS location,
           'accept-datetime' AS vary,
           '<' || urlkey || '>; rel="original", <'
             || 'https://web.archive.example/web/' || first_ts || 'id_/' || urlkey
             || '>; rel="first memento"; datetime="'
             || strftime(strptime(first_ts, '%Y%m%d%H%M%S'),
                         '%a, %d %b %Y %H:%M:%S GMT')
             || '", <'
             || 'https://web.archive.example/web/' || last_ts || 'id_/' || urlkey
             || '>; rel="last memento"; datetime="'
             || strftime(strptime(last_ts, '%Y%m%d%H%M%S'),
                         '%a, %d %b %Y %H:%M:%S GMT')
             || '", <'
             || 'https://web.archive.example/web/' || ts14 || 'id_/' || urlkey
             || '>; rel="memento"; datetime="'
             || strftime(strptime(ts14, '%Y%m%d%H%M%S'),
                         '%a, %d %b %Y %H:%M:%S GMT')
             || '"' AS link
    FROM ranked WHERE rn = 1
    """,
    tier="B",
)
def cdx_timegate(spark, sf_dir):
    """Memento TimeGate [B RFC 7089 §4; pywb's datetime-negotiated
    redirect]: per URI-R of the src4 subtree, the 302 response row —
    Location (replay URI of the capture closest to Accept-Datetime
    2016-01-01, same abs-distance earlier-wins rule as the cdx-server
    ``closest=`` knob), Vary: accept-datetime, and the §4.2 Link
    header carrying original + first/last memento link-values with
    RFC-1123 datetimes.  The hash pins the full header grammar; the
    CLI ``timegate`` subcommand serves this exact code path.  One
    ranked window on the index's own sort key + a map-side concat —
    the TimeMap serializers' scale shape."""
    from ..operators.timemap import timegate

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src4")
        & (F.col("urlkey") < "org,example,src4)~")
    )
    return timegate(c.select("urlkey", "ts14"), "20160101")


@query(
    "cdx_timemap_cdxj",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp,
           urlkey || ' ' || ts14 ||
           ' {"url":"https://e/' || urlkey ||
           '","mime":"' || mime ||
           '","status":"' || CAST(status AS VARCHAR) ||
           '","digest":"' || digest || '"}' AS line
    FROM cdx
    WHERE urlkey >= 'org,example,src4' AND urlkey < 'org,example,src4)~'
    """,
    tier="B",
)
def cdx_timemap_cdxj(spark, sf_dir):
    """Memento TimeMap, CDXJ serialization [B pywb /timemap/cdxj/
    endpoint]: the mementos of each URI-R as CDXJ lines (``urlkey ts
    {json}``), emitted through the engine's OWN CDXJ writer
    (``sources.cdx.to_cdxj_lines`` — the NULL-omission and map-order
    conventions the ZipNum CDXJ clusters use) against a
    concatenation-derived oracle — so the hash pins the writer's
    exact line grammar, not a parallel reimplementation.  Map-only
    projection; the per-URI-R ordering is the index order itself."""
    from ..sources.cdx import cdxj_line_expr

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src4")
        & (F.col("urlkey") < "org,example,src4)~")
    )
    full = c.select(
        "urlkey",
        F.col("ts14").alias("timestamp"),
        F.concat(F.lit("https://e/"), F.col("urlkey")).alias("url"),
        "mime",
        "status",
        "digest",
        F.lit(None).cast("string").alias("redirect"),
        F.lit(None).cast("string").alias("robotflags"),
        F.lit(None).cast("long").alias("length"),
        F.lit(None).cast("long").alias("offset"),
        F.lit(None).cast("string").alias("filename"),
    )
    return full.select("urlkey", "timestamp", cdxj_line_expr().alias("line"))


@query(
    "cdx_server_composed_zipnum",
    oracle=CDX_SQL + f"""
    , lines AS (
      SELECT urlkey, ts14, mime, status, {_ZIPNUM_LINE_SQL} AS value FROM cdx
    ), ranked AS (
      SELECT *, NTILE(8) OVER (ORDER BY value) AS shard_no FROM lines
    ), assigned AS (
      SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY shard_no ORDER BY value)
                            - 1) / 100) AS BIGINT) AS blk
      FROM ranked
    ), blocks AS (
      SELECT shard_no, blk, MIN(value) AS first_line
      FROM assigned GROUP BY shard_no, blk
    ), ordered AS (
      SELECT shard_no, blk,
             string_split(first_line, ' ')[1] AS fk,
             LEAD(string_split(first_line, ' ')[1])
               OVER (ORDER BY string_split(first_line, ' ')[1],
                              string_split(first_line, ' ')[2],
                              shard_no, blk) AS nk,
             ROW_NUMBER()
               OVER (ORDER BY string_split(first_line, ' ')[1],
                              string_split(first_line, ' ')[2],
                              shard_no, blk) AS bo
      FROM blocks
    ), kept AS (
      SELECT shard_no, blk,
             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY bo) - 1) / 2) AS INT) AS page
      FROM ordered
      WHERE fk < 'org,example,src3~'
        AND (nk IS NULL OR nk >= 'org,example,src3')
    ), hit AS (
      SELECT k.page, a.urlkey, a.ts14 AS timestamp, a.mime, a.status
      FROM assigned a JOIN kept k USING (shard_no, blk)
      WHERE a.urlkey >= 'org,example,src3' AND a.urlkey < 'org,example,src3~'
        AND a.ts14 >= '2015' AND a.ts14 < '2017'
        AND a.status = 200
        AND NOT regexp_matches(a.mime, 'image.*')
    ), runs AS (
      SELECT *, LAG(substr(timestamp, 1, 6)) OVER (
               PARTITION BY page, urlkey ORDER BY timestamp) AS prev
      FROM hit
    ), coll AS (
      SELECT page, urlkey, timestamp, mime, status FROM runs
      WHERE prev IS NULL OR substr(timestamp, 1, 6) <> prev
    )
    SELECT page, urlkey, timestamp, mime, status FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY page ORDER BY urlkey, timestamp) AS rn
      FROM coll
    ) WHERE rn <= 5
    """,
    tier="B",
)
def cdx_server_composed_zipnum(spark, sf_dir):
    """[B round 5] the composed cdx-server parameter set run NATIVELY
    against ZipNum files — the production path, not the parquet
    mirror: matchType=domain (secondary-index BLOCK PRUNING to the
    src3 key range before any decompression) + page tiling
    (pageSize=2 block runs, ALL pages in one tagged job via
    read_zipnum_pages) + from/to + filter=status:200 +
    filter=!mime:image.* + collapse=timestamp:6 + per-page limit=5 —
    the exact residual pipeline a pywb front end runs per request,
    here as one batch plan.  Built on write_zipnum_ordered
    (deterministic NTILE bounds), so the DuckDB oracle recomputes the
    physical block layout, the [lo,hi) prune over block first-keys,
    the page slicing, and the residual query — a hash match proves
    the ZipNum read path AND the composition.  Block pruning is
    additionally metric-asserted in tests/test_zipnum.py."""
    import tempfile

    from pyspark.sql.window import Window

    from ..sinks.zipnum import read_zipnum_pages, write_zipnum_ordered

    out = tempfile.mkdtemp(prefix="zipnum_srv_")
    write_zipnum_ordered(_zipnum_input(spark, sf_dir), out, shards=8, numlines=100)
    lo, hi = "org,example,src3", "org,example,src3~"
    pages = read_zipnum_pages(spark, out, key_lo=lo, key_hi=hi, page_size=2)
    ts = F.col("timestamp")
    hit = pages.filter(
        (ts >= "2015")
        & (ts < "2017")
        & (F.col("status") == 200)
        & ~F.col("mime").rlike("image.*")
    )
    w_runs = Window.partitionBy("page", "urlkey").orderBy("timestamp")
    prev = F.lag(F.substring("timestamp", 1, 6)).over(w_runs)
    coll = (
        hit.withColumn("__prev", prev)
        .filter(F.col("__prev").isNull() | (F.substring("timestamp", 1, 6) != F.col("__prev")))
    )
    w_lim = Window.partitionBy("page").orderBy("urlkey", "timestamp")
    return (
        coll.withColumn("__rn", F.row_number().over(w_lim))
        .filter(F.col("__rn") <= 5)
        .select("page", "urlkey", "timestamp", "mime", "status")
    )


@query(
    "cdx_revisit_resolve",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14, orig_ts14 FROM (
      SELECT urlkey, ts14, digest,
             MIN(ts14) OVER (PARTITION BY digest) AS orig_ts14
      FROM cdx
    ) WHERE ts14 <> orig_ts14
    """,
)
def cdx_revisit_resolve(spark, sf_dir):
    """J2 revisit resolution [B]: later captures sharing a digest point
    back to the original capture (payload lives in the original's
    WARC).  Window-min over digest — one shuffle, no self-join."""
    from pyspark.sql.window import Window

    c = derived_cdx(spark, sf_dir)
    w = Window.partitionBy("digest")
    return (
        c.withColumn("orig_ts14", F.min("ts14").over(w))
        .filter(F.col("ts14") != F.col("orig_ts14"))
        .select("urlkey", "ts14", "orig_ts14")
    )


@query(
    "cdx_num_pages",
    oracle=CDX_SQL + """
    , idx AS (
      SELECT urlkey,
             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY urlkey, ts14) - 1) / 100)
                  AS BIGINT) AS blk
      FROM cdx
    )
    SELECT COUNT(DISTINCT blk) AS num_pages, COUNT(*) AS n_captures
    FROM idx WHERE urlkey LIKE 'org,example,src1)/%'
    """,
)
def cdx_num_pages(spark, sf_dir):
    """O3 pagination [B] cdx-server ``showNumPages``: pages = ZipNum
    blocks (numlines=100 here) whose key range intersects the query's
    SURT prefix.  This SQL-observable twin assigns global block ids
    with a total-order window; the production path never sorts at
    query time — it counts matching lines in the (tiny, already
    materialized) ``cluster.idx`` secondary index, which is the same
    arithmetic over the sink's output (sinks/zipnum.py)."""
    from pyspark.sql.window import Window

    c = derived_cdx(spark, sf_dir)
    w = Window.orderBy("urlkey", "ts14")
    blk = F.floor((F.row_number().over(w) - 1) / 100).cast("bigint")
    return (
        c.withColumn("blk", blk)
        .filter(F.col("urlkey").startswith("org,example,src1)/"))
        .agg(
            F.countDistinct("blk").alias("num_pages"),
            F.count(F.lit(1)).alias("n_captures"),
        )
    )


@query(
    "cdx_server_composed",
    oracle=CDX_SQL + """
    , hit AS (
      SELECT urlkey, ts14 AS timestamp, mime, status FROM cdx
      WHERE urlkey LIKE 'org,example,src3%'
        AND ts14 >= '20150000000000' AND ts14 <= '20169999999999'
        AND status = 200
        AND NOT regexp_matches(mime, 'image.*')
    ), runs AS (
      SELECT *, LAG(substr(timestamp, 1, 6)) OVER (
               PARTITION BY urlkey ORDER BY timestamp) AS prev
      FROM hit
    )
    SELECT urlkey, timestamp, mime, status FROM runs
    WHERE prev IS NULL OR substr(timestamp, 1, 6) <> prev
    """,
    tier="B",
)
def cdx_server_composed(spark, sf_dir):
    """[B] the COMPOSED cdx-server GET /index surface end-to-end
    through operators.cdx_query (not hand-assembled plan pieces):
    matchType=domain + from/to + filter=status:200 +
    filter=!mime:image.* + collapse=timestamp:6 + fl= projection in a
    single call — proving the parameter→plan mapping composes the
    same physical pipeline the individual P/W-tier queries verified
    one at a time."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    return cdx_query(
        c,
        "http://src3.example.org/",
        match_type="domain",
        from_="2015",
        to="2016",
        filters=["status:200", "!mime:image.*"],
        collapse="timestamp:6",
        fields=["urlkey", "timestamp", "mime", "status"],
    )


@query(
    "cdx_crawl_diff",
    oracle=CDX_SQL + """
    , a AS (SELECT DISTINCT urlkey, digest FROM cdx WHERE ts14 < '2016'),
      b AS (SELECT DISTINCT urlkey, digest FROM cdx WHERE ts14 >= '2016')
    , au AS (SELECT urlkey, MIN(digest) AS d_a FROM a GROUP BY urlkey)
    , bu AS (SELECT urlkey, MIN(digest) AS d_b FROM b GROUP BY urlkey)
    SELECT COALESCE(au.urlkey, bu.urlkey) AS urlkey,
           CASE WHEN au.urlkey IS NULL THEN 'added'
                WHEN bu.urlkey IS NULL THEN 'removed'
                WHEN d_a <> d_b THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM au FULL OUTER JOIN bu ON au.urlkey = bu.urlkey
    WHERE NOT (au.urlkey IS NOT NULL AND bu.urlkey IS NOT NULL AND d_a = d_b)
    """,
    tier="B",
)
def cdx_crawl_diff(spark, sf_dir):
    """[B] cross-crawl diff — the report an archive operator runs after
    every crawl: which URLs appeared, disappeared, or changed content
    between two crawl windows.  Representative digest per URL per
    window (MIN — deterministic), then ONE full outer join on urlkey;
    both sides are pre-aggregated to URL granularity before the join,
    so the shuffle carries one row per URL, not per capture, and the
    join keys are the same urlkey both sides — AQE handles the residual
    skew.  'unchanged' rows are filtered out (the interesting set)."""
    c = derived_cdx(spark, sf_dir)
    a = (
        c.filter(F.col("ts14") < "2016")
        .groupBy("urlkey")
        .agg(F.min("digest").alias("d_a"))
    )
    b = (
        c.filter(F.col("ts14") >= "2016")
        .groupBy("urlkey")
        .agg(F.min("digest").alias("d_b"))
    )
    j = a.withColumnRenamed("urlkey", "uk_a").join(
        b.withColumnRenamed("urlkey", "uk_b"),
        F.col("uk_a") == F.col("uk_b"),
        "full_outer",
    )
    change = (
        F.when(F.col("uk_a").isNull(), "added")
        .when(F.col("uk_b").isNull(), "removed")
        .when(F.col("d_a") != F.col("d_b"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("uk_a"), F.col("uk_b")).alias("urlkey"),
            change.alias("change"),
        )
        .filter(F.col("change") != "unchanged")
    )


@query(
    "cdx_temporal_coverage",
    oracle=CDX_SQL + """
    SELECT urlkey,
           MIN(ts14) AS first_ts,
           MAX(ts14) AS last_ts,
           COUNT(*) AS n_captures,
           COUNT(DISTINCT substr(ts14, 1, 4)) AS n_years,
           CAST(SUM(CASE WHEN substr(ts14, 1, 4) = '2016' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_2016
    FROM cdx
    WHERE urlkey LIKE 'org,example,src2)%'
    GROUP BY urlkey
    """,
    tier="B",
)
def cdx_temporal_coverage(spark, sf_dir):
    """[B] temporal coverage — the per-URL capture calendar behind the
    wayback machine's calendar page: first/last capture, total count,
    distinct years covered, and a per-year drilldown column.  One
    hash aggregate over the host's key range (range-prunable prefix),
    partial-aggregated map-side; the year is a substring of ts14, so
    no date parsing touches the hot path."""
    c = derived_cdx(spark, sf_dir)
    yr = F.substring("ts14", 1, 4)
    return (
        c.filter(F.col("urlkey").startswith("org,example,src2)"))
        .groupBy("urlkey")
        .agg(
            F.min("ts14").alias("first_ts"),
            F.max("ts14").alias("last_ts"),
            F.count(F.lit(1)).alias("n_captures"),
            F.countDistinct(yr).alias("n_years"),
            F.sum(F.when(yr == "2016", 1).otherwise(0)).alias("n_2016"),
        )
    )


@query(
    "cdx_host_stats",
    oracle=CDX_SQL + """
    SELECT split_part(urlkey, ')', 1) AS host,
           COUNT(*) AS n_captures,
           COUNT(DISTINCT urlkey) AS n_urls,
           CAST(SUM(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           COUNT(DISTINCT digest) AS n_unique_payloads,
           CAST(SUM(CAST(length AS BIGINT)) AS BIGINT) AS total_bytes
    FROM cdx GROUP BY host
    """,
)
def cdx_host_stats(spark, sf_dir):
    """[B] per-host crawl statistics — the per-domain summary the
    public index publishes alongside each crawl (captures, unique
    URLs, success rate, unique payloads, bytes).  The SURT urlkey
    makes 'host' a prefix substring, so the whole report is ONE
    hash-aggregate keyed on the host prefix; distinct counts are
    partial-aggregated map-side like any other agg."""
    c = derived_cdx(spark, sf_dir)
    host = F.substring_index(F.col("urlkey"), ")", 1)
    return c.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.countDistinct("urlkey").alias("n_urls"),
        F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("n_ok"),
        F.countDistinct("digest").alias("n_unique_payloads"),
        F.sum(F.col("length").cast("bigint")).alias("total_bytes"),
    )


@query(
    "cdx_timemap",
    oracle=CDX_SQL + """
    , gaps AS (
      SELECT urlkey, ts14,
             epoch(strptime(ts14, '%Y%m%d%H%M%S'))
               - epoch(strptime(LAG(ts14) OVER (PARTITION BY urlkey ORDER BY ts14),
                                '%Y%m%d%H%M%S')) AS gap_s
      FROM cdx
    )
    SELECT urlkey,
           COUNT(*) AS n_mementos,
           MIN(ts14) AS first_ts,
           MAX(ts14) AS last_ts,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps GROUP BY urlkey
    """,
    tier="B",
)
def cdx_timemap(spark, sf_dir):
    """Memento TimeMap summary [B pywb serves /timemap per URI-R]:
    per urlkey, the memento count, first/last capture, and the
    largest gap between consecutive captures (the crawl-coverage
    metric an archive QA dashboard tracks).  One window pass keyed on
    urlkey — the partition key the index is already range-sorted by,
    so at scale the sort inside each window is partition-local to
    data that is co-located anyway; no second shuffle."""
    from pyspark.sql.window import Window

    c = derived_cdx(spark, sf_dir)
    w = Window.partitionBy("urlkey").orderBy("ts14")
    ts = F.unix_timestamp(F.to_timestamp("ts14", "yyyyMMddHHmmss"))
    gap = ts - F.unix_timestamp(
        F.to_timestamp(F.lag("ts14").over(w), "yyyyMMddHHmmss")
    )
    return (
        c.withColumn("gap_s", gap)
        .groupBy("urlkey")
        .agg(
            F.count(F.lit(1)).alias("n_mementos"),
            F.min("ts14").alias("first_ts"),
            F.max("ts14").alias("last_ts"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


@query(
    "cdx_fetch_plan",
    oracle=CDX_SQL + """
    , ranges AS (
      SELECT filename, "offset" AS off, "offset" + length AS endoff
      FROM cdx
    ), flagged AS (
      SELECT filename, off, endoff,
             CASE WHEN LAG(endoff) OVER w IS NULL
                       OR off - LAG(endoff) OVER w > 500
                  THEN 1 ELSE 0 END AS new_run
      FROM ranges WINDOW w AS (PARTITION BY filename ORDER BY off, endoff)
    ), runs AS (
      SELECT filename, off, endoff,
             CAST(SUM(new_run) OVER (PARTITION BY filename
                                     ORDER BY off, endoff
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      FROM flagged
    )
    SELECT filename, run_id,
           COUNT(*) AS n_captures,
           CAST(MIN(off) AS BIGINT) AS run_start,
           CAST(MAX(endoff) - MIN(off) AS BIGINT) AS run_bytes
    FROM runs GROUP BY filename, run_id
    """,
    tier="B",
)
def cdx_fetch_plan(spark, sf_dir):
    """Ranged-GET fetch planning: captures to be retrieved from the
    same WARC are coalesced into byte-range runs when the gap to the
    previous capture's end is ≤ 500 bytes — the read-amplification
    trick every archive bulk-exporter uses (one ranged GET per run
    instead of per record; pywb's zipnum reader does the same for
    index blocks).  The run assignment is the sessionize pattern over
    byte offsets instead of timestamps: lag → new-run flag →
    running-sum run id, all inside one window partitioned by the
    file — at scale each WARC's ranges are co-located by the
    partition key and nothing else shuffles."""
    from pyspark.sql.window import Window

    c = derived_cdx(spark, sf_dir)
    r = c.select(
        "filename",
        F.col("offset").alias("off"),
        (F.col("offset") + F.col("length")).alias("endoff"),
    )
    w = Window.partitionBy("filename").orderBy("off", "endoff")
    prev_end = F.lag("endoff").over(w)
    new_run = F.when(
        prev_end.isNull() | (F.col("off") - prev_end > 500), 1
    ).otherwise(0)
    runs = r.withColumn(
        "run_id",
        F.sum(new_run).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return runs.groupBy("filename", "run_id").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.min("off").cast("bigint").alias("run_start"),
        (F.max("endoff") - F.min("off")).cast("bigint").alias("run_bytes"),
    )


_IDN_CASES = [
    ("https://www.münchen.de/straße?q=1", "de,xn--mnchen-3ya)/straße?q=1"),
    ("http://bücher.example:80/path", "example,xn--bcher-kva)/path"),
    ("https://www.日本.jp/", "jp,xn--wgv71a)/"),
    (
        "https://WWW.Ascii.Example.org:443/a/../b?b=2&a=1",
        "org,example,ascii)/b?a=1&b=2",
    ),
    ("http://xn--dj-kia.example/pre-encoded", "example,xn--dj-kia)/pre-encoded"),
]


_BATCH_COLS = (
    'urlkey, ts14 AS timestamp, mime, status, digest, length, '
    '"offset", filename'
)

_BATCH_REQUESTS = [
    # heterogeneous shapes: exact, exact-with-query, prefix+time
    # window, whole-domain with filter+limit, glob, negated filter
    {"url": "http://src1.example.org/doc/101"},
    {"url": "http://src1.example.org/doc/102?b=2&a=1"},
    {
        "url": "http://src2.example.org/doc/30*",
        "from_": "2016",
        "to": "2016",
    },
    {
        "url": "http://example.org/",
        "match_type": "domain",
        "filters": ["=status:404"],
        "limit": 40,
    },
    {"url": "http://src3.example.org/doc/1*5", "match_type": "glob"},
    {"url": "http://src4.example.org/doc/200", "filters": ["!=status:200"]},
]


@query(
    "cdx_query_batch",
    oracle=CDX_SQL + f"""
    SELECT CAST(0 AS INT) AS request_no, {_BATCH_COLS} FROM cdx
    WHERE urlkey = 'org,example,src1)/doc/101'
    UNION ALL
    SELECT CAST(1 AS INT), {_BATCH_COLS} FROM cdx
    WHERE urlkey = 'org,example,src1)/doc/102?a=1&b=2'
    UNION ALL
    SELECT CAST(2 AS INT), {_BATCH_COLS} FROM cdx
    WHERE urlkey >= 'org,example,src2)/doc/30'
      AND urlkey < 'org,example,src2)/doc/30~'
      AND ts14 >= '20160000000000' AND ts14 <= '20169999999999'
    UNION ALL
    SELECT CAST(3 AS INT), {_BATCH_COLS} FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY urlkey, ts14) AS rn FROM cdx
      WHERE urlkey >= 'org,example' AND urlkey < 'org,example~'
        AND CAST(status AS VARCHAR) = '404'
    ) WHERE rn <= 40
    UNION ALL
    SELECT CAST(4 AS INT), {_BATCH_COLS} FROM cdx
    WHERE urlkey >= 'org,example,src3)/doc/1'
      AND urlkey < 'org,example,src3)/doc/1~'
      AND urlkey LIKE 'org,example,src3)/doc/1%5'
    UNION ALL
    SELECT CAST(5 AS INT), {_BATCH_COLS} FROM cdx
    WHERE urlkey = 'org,example,src4)/doc/200'
      AND NOT (CAST(status AS VARCHAR) = '200')
    """,
    tier="B",
)
def cdx_query_batch(spark, sf_dir):
    """Batch multi-request serving [B cc-index-server: concurrent API
    queries answered off one cluster] — round 10's composed entry
    point over the existing pieces: SIX heterogeneous cdx-server
    requests (exact, exact-with-query, prefix+time-window,
    whole-domain with filter and limit, glob, negated filter) answered
    in ONE job.  The scan filter is the OR of the requests' urlkey
    ranges (pushed down — block-IO bounded by the union of ranges), a
    broadcast range join against the 6-row request table assigns
    request_no without shuffling captures, per-request residuals run
    as one literal-compiled CASE chain, and per-request limits share
    one window.  The oracle is the per-request UNION — so the hash
    match proves batch ≡ the N-request loop; a pytest additionally
    pins batch ≡ cdx_query per request at sf0.001."""
    from ..operators.cdx_query import cdx_query_batch as batch

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    return batch(c, _BATCH_REQUESTS)


@query(
    "cdx_query_batch_closest",
    oracle=CDX_SQL + f"""
    SELECT CAST(0 AS INT) AS request_no, {_BATCH_COLS} FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY ABS(CAST(ts14 AS BIGINT) - 20160601000000), ts14,
                 digest, "offset") AS rn
      FROM cdx WHERE urlkey = 'org,example,src1)/doc/101'
    ) WHERE rn <= 2
    UNION ALL
    SELECT CAST(1 AS INT), {_BATCH_COLS} FROM (
      -- the target pads pywb-style: '201501'.ljust(14, '0') =
      -- 20150100000000 (NOT the calendar 20150101000000 — one ts14
      -- 'day' off, enough to flip winners near the boundary)
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY ABS(CAST(ts14 AS BIGINT) - 20150100000000), ts14,
                 digest, "offset") AS rn
      FROM cdx WHERE urlkey = 'org,example,src1)/doc/102?a=1&b=2'
    ) WHERE rn <= 1
    UNION ALL
    SELECT CAST(2 AS INT), {_BATCH_COLS} FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY urlkey, ts14, digest, "offset") AS rn
      FROM cdx
      WHERE urlkey >= 'org,example,src2)/doc/30'
        AND urlkey < 'org,example,src2)/doc/30~'
        AND ts14 >= '20160000000000' AND ts14 <= '20169999999999'
    ) WHERE rn <= 3
    """,
    tier="B",
)
def cdx_query_batch_closest(spark, sf_dir):
    """Per-request ``closest=`` in the BATCH serving path (round 11 —
    Memento-style bulk lookup: replay UIs resolve many (url, datetime)
    pairs at once [B pywb closest / RFC 7089 TimeGate]): two exact
    requests each ranked by |ts − target| around different targets
    plus a plain prefix+window+limit request, answered in ONE job.
    The request-conditional order rides the SAME request_no window —
    closest partitions lead with the distance, the sorted partition
    with the index order — so mixed batches still share one scan, one
    broadcast range join, one shuffle.  The oracle UNION ALLs the
    per-request rankings; flows through the zipnum/parquet batch
    backends unchanged (they delegate residuals here)."""
    from ..operators.cdx_query import cdx_query_batch as batch

    c = derived_cdx(spark, sf_dir).withColumnRenamed("ts14", "timestamp")
    return batch(c, [
        {"url": "http://src1.example.org/doc/101",
         "closest": "20160601", "limit": 2},
        {"url": "http://src1.example.org/doc/102?b=2&a=1",
         "closest": "201501", "limit": 1},
        {"url": "http://src2.example.org/doc/30*",
         "from_": "2016", "to": "2016", "limit": 3},
    ])


#: adversarial percent-encoding goldens (round 10 — fixpoint decode):
#: nested escapes unwrap to ANY depth, mixed-case hex normalizes via
#: the lowercase pass, juxtaposition-synthesized escapes resolve
#: ('%%325ab': decoding %32→'2' after the bare % yields %25ab, which a
#: later pass unwraps), non-unreserved terminals stay escaped, and a
#: truncated '%25' tail is inert.  Keys hand-traced; both engines list
#: the same VALUES, the Spark side computes them natively.
_PCT_CASES = [
    ("http://example.com/%252541", "com,example)/a"),
    ("http://example.com/%2525252541", "com,example)/a"),
    ("HTTP://Example.COM/%2541?x=%2545&y=%41", "com,example)/a?x=e&y=a"),
    ("http://example.com/%%325ab", "com,example)/%ab"),
    ("http://example.com/%25252F/p", "com,example)/%2f/p"),
    ("http://example.com/a%2Eb/%7Euser", "com,example)/a.b/~user"),
    ("http://example.com/%ZZ%25zz%2525", "com,example)/%zz%25zz%25"),
    ("http://e.com/%2541%2542%2543", "com,e)/abc"),
]


@query(
    "cdx_surt_pct_deep",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{u}', '{k}')" for u, k in _PCT_CASES)
    + ") t(url, urlkey)",
    tier="B",
)
def cdx_surt_pct_deep(spark, sf_dir):
    """F1 SURT percent-decode at FIXPOINT (round 10, closing the last
    documented urlkey divergence from pywb): the native expression
    iterates the normalization pass via ``aggregate(sequence(1, N))``
    with a data-derived bound N (see functions/surt._pct_pass for the
    termination potential), so nested/synthesized escapes fully
    unwrap exactly as pywb's repeated unquote does.  Golden keys are
    hand-traced adversarial URLs; a hypothesis property in
    tests/test_surt.py additionally pins decode idempotence at the
    fixpoint and native≡Python equality on random escape soup."""
    df = spark.createDataFrame([(u,) for u, _ in _PCT_CASES], ["url"])
    return df.select("url", surt_urlkey_cached("url").alias("urlkey"))


@query(
    "cdx_surt_idn_urlkey",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{u}', '{k}')" for u, k in _IDN_CASES)
    + ") t(url, urlkey)",
    tier="B",
)
def cdx_surt_idn_urlkey(spark, sf_dir):
    """F1 SURT with IDN hosts through the hybrid router
    (``surt_urlkey_auto``): non-ASCII hosts are punycoded by the
    pandas fallback while ASCII URLs stay on the native codegen path —
    one plan, both branches exercised, checked against golden keys
    (the expected values are pywb/surt semantics: host punycoded,
    path bytes preserved, ports/query/dot-segments normalized).
    This closes the round-3 'IDN divergence' gap as a driver-checked
    query, not just a pytest."""
    from ..functions.surt import surt_urlkey_auto

    df = spark.createDataFrame([(u,) for u, _ in _IDN_CASES], ["url"])
    return surt_urlkey_auto(df, "url").select("url", "urlkey")


@query(
    "cdx_latest_snapshot",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp, status, digest FROM (
      SELECT urlkey, ts14, status, digest,
             ROW_NUMBER() OVER (PARTITION BY urlkey
                                ORDER BY ts14 DESC, digest DESC) AS rn
      FROM cdx WHERE status = 200
    ) WHERE rn = 1
    """,
    tier="B",
)
def cdx_latest_snapshot(spark, sf_dir):
    """The wayback default view [B]: the newest successful (status
    200) capture per URL — one window pass keyed on urlkey (the
    index's range-sort key, so at scale the per-key ordering is
    partition-local to co-located data), digest as the deterministic
    tie-break within equal timestamps."""
    from pyspark.sql.window import Window

    c = derived_cdx(spark, sf_dir).filter(F.col("status") == 200)
    w = Window.partitionBy("urlkey").orderBy(
        F.col("ts14").desc(), F.col("digest").desc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("urlkey", F.col("ts14").alias("timestamp"), "status", "digest")
    )


# --- round 8: embargo, replace-rules, url-wildcard sugar -------------------

_EMBARGO_RULES = [
    ("org,example,src9", "exclude"),
    ("org,example,src9)/doc/9", "allow_ignore_embargo"),
    ("org,example,src19", "block"),
]

_EMBARGO = {"newer": {"days": 500}}
_EMBARGO_AS_OF = ("20170601000000", "20190601000000")


def _embargo_oracle() -> str:
    from ..operators.cdx_query import sql_acl_access

    selects = []
    for as_of in _EMBARGO_AS_OF:
        verdict = sql_acl_access(
            "urlkey",
            _EMBARGO_RULES,
            ts_col="timestamp",
            embargo=_EMBARGO,
            as_of=as_of,
        )
        selects.append(
            f"""
      SELECT '{as_of}' AS as_of, urlkey, timestamp, access FROM (
        SELECT urlkey, timestamp, {verdict} AS access FROM judged
      ) WHERE access <> 'exclude'"""
        )
    union = "\n      UNION ALL".join(selects)
    return CDX_SQL + f"""
    , judged AS (
      SELECT urlkey, ts14 AS timestamp FROM cdx
      WHERE urlkey >= 'org,example,src1' AND urlkey < 'org,example,src:'
    )
    {union}
    """


@query(
    "cdx_acl_embargo",
    oracle=_embargo_oracle(),
    tier="B",
)
def cdx_acl_embargo(spark, sf_dir):
    """Embargo-aware access control [U pywb config.yaml embargo +
    wb-manager allow_ignore_embargo]: a collection embargo hides
    captures NEWER than 500 days (measured from an explicit ``as_of``
    clock — the engine takes no clock of its own), and an
    ``allow_ignore_embargo`` rule exempts one page subtree
    (src9)/doc/9*, which is ALSO the carve-back inside a host-wide
    exclude).  The same corpus is judged at two ``as_of`` dates: at
    2017-06-01 every capture after 2016-01-18 is embargoed (most of
    the corpus vanishes; the exempt subtree stays listed), while at
    2019-06-01 the newest capture is past the 500-day window and the
    whole listing returns — the driver hash pins that the SAME
    capture is excluded at one clock and listed at the other.

    Scale shape: the embargo folds into each CASE arm's VALUE as a
    constant-size ts14 string compare — map-side verdict projections,
    zero exchanges added, rule-count independent
    (operators.cdx_query.sql_acl_access); duration arithmetic ran on
    the driver.  Both clocks' verdicts evaluate in ONE corpus scan
    (two CASE columns + a 2-wide explode), not one scan per as_of —
    a replay-QA job auditing N embargo dates still reads the index
    once."""
    from ..operators.cdx_query import sql_acl_access

    c = derived_cdx(spark, sf_dir).filter(
        (F.col("urlkey") >= "org,example,src1")
        & (F.col("urlkey") < "org,example,src:")
    )
    base = c.select("urlkey", F.col("ts14").alias("timestamp"))
    arms = [
        F.struct(
            F.lit(as_of).alias("as_of"),
            F.expr(
                sql_acl_access(
                    "urlkey", _EMBARGO_RULES, embargo=_EMBARGO, as_of=as_of
                )
            ).alias("access"),
        )
        for as_of in _EMBARGO_AS_OF
    ]
    return (
        base.select(
            "urlkey", "timestamp", F.explode(F.array(*arms)).alias("v")
        )
        .select("v.as_of", "urlkey", "timestamp", "v.access")
        .filter(F.col("access") != "exclude")
    )


def _replace_rules():
    """Rule table for cdx_fuzzy_replace_rule: a pywb ``replace:``
    rewrite rule (volatile ``a=`` param canonicalized to the indexed
    ``a=1`` stand-in — a pure strip would derive ``?b=2``, a key that
    was never written) ahead of the strip-entire-query fallback, so
    first-match-wins ordering is exercised across the two rule
    KINDS."""
    from ..operators.cdx_query import REMOVEALL_RULE, FuzzyRule

    return (
        FuzzyRule("avolatile", r"a=[0-9]+", replace="a=1"),
        REMOVEALL_RULE,
    )


def _replace_oracle() -> str:
    from ..operators.cdx_query import sql_fuzzy_rule_exprs

    rule_case, fuzzy_case = sql_fuzzy_rule_exprs("key_exact", _replace_rules())
    return CDX_SQL + f"""
    , lookups0 AS (
      SELECT doc_id,
             'org,example,' || source || ')/doc/' || doc_id ||
               CASE WHEN doc_id % 3 = 0
                      THEN '?a=' || CAST(700 + doc_id AS VARCHAR) || '&b=2'
                    WHEN doc_id % 2 = 0 THEN '?z=9'
                    ELSE '' END AS key_exact
      FROM documents WHERE doc_id < 300
    ), lookups AS (
      SELECT doc_id, key_exact,
             {rule_case} AS fuzzy_rule,
             {fuzzy_case} AS key_fuzzy
      FROM lookups0
    ), keys AS (
      SELECT doc_id, key_exact AS k, 'exact' AS via, '' AS rule FROM lookups
      UNION ALL
      SELECT doc_id, key_fuzzy AS k, 'fuzzy' AS via,
             COALESCE(fuzzy_rule, '') AS rule FROM lookups
    ), m AS (
      SELECT k.doc_id, k.via, k.rule, c.ts14,
             MAX(CASE WHEN k.via = 'exact' THEN 1 ELSE 0 END)
               OVER (PARTITION BY k.doc_id) AS he
      FROM keys k JOIN cdx c ON k.k = c.urlkey
    )
    SELECT doc_id, via, rule, COUNT(*) AS n_captures,
           MIN(ts14) AS first_ts, MAX(ts14) AS last_ts
    FROM m WHERE via = 'exact' OR he = 0
    GROUP BY doc_id, via, rule
    """


@query(
    "cdx_fuzzy_replace_rule",
    oracle=_replace_oracle(),
    tier="B",
)
def cdx_fuzzy_replace_rule(spark, sf_dir):
    """pywb ``fuzzy_lookup: replace:`` semantics [U pywb
    fuzzymatcher]: the matched span is REWRITTEN to a literal instead
    of stripped.  Three lookup classes: volatile ``a=7xx`` params
    rewrite to the indexed ``a=1`` stand-in (a strip rule would derive
    ``?b=2`` — a key never written — so only the rewrite can hit);
    junk-only queries fall through to the strip-entire-query fallback
    (first-match-wins across rule KINDS); bare keys hit exactly and
    the he-window suppresses their no-op fuzzy twin.  The rule table
    round-trips through a real rules.yaml file (``dump_fuzzy_rules``
    → ``load_fuzzy_rules``), so the driver hash also pins that a
    deployment's ``replace:`` rules load unmodified — never silently
    half-applied (a ``filter:`` sibling would quarantine the whole
    rule instead).

    Scale shape: identical to cdx_fuzzy_match — the rewrite is one
    regexp_replace inside the same scan-side first-match-wins CASE
    chain (codegen, no UDF), then ONE equi-join against the index."""
    import os
    import tempfile

    from pyspark.sql.window import Window

    from ..operators.cdx_query import apply_fuzzy_rules
    from ..sources.pywb_config import dump_fuzzy_rules, load_fuzzy_rules

    d = tempfile.mkdtemp(prefix="pywb_replace_")
    path = os.path.join(d, "rules.yaml")
    with open(path, "w") as fh:
        fh.write(dump_fuzzy_rules(_replace_rules()))
    rules, bad = load_fuzzy_rules(path)
    if bad:  # fixture we just wrote — any quarantine is a code bug
        raise ValueError(f"fixture rules.yaml quarantined entries: {bad}")

    c = derived_cdx(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    doc = F.col("doc_id")
    qs = (
        F.when(
            doc % 3 == 0,
            F.concat(F.lit("?b=2&a="), (doc + 700).cast("string")),
        )
        .when(doc % 2 == 0, F.lit("?z=9"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://WWW."),
        F.upper(F.substring("source", 1, 1)),
        F.expr("substring(source, 2)"),
        F.lit(".Example.org:443/doc/"),
        doc.cast("string"),
        qs,
    )
    lookups = apply_fuzzy_rules(
        docs.withColumn("__url", url).select(
            "doc_id", surt_urlkey_cached("__url").alias("key_exact")
        ),
        "key_exact",
        rules,
    )
    keys = lookups.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("key_exact").alias("k"),
                    F.lit("exact").alias("via"),
                    F.lit("").alias("rule"),
                ),
                F.struct(
                    F.col("key_fuzzy").alias("k"),
                    F.lit("fuzzy").alias("via"),
                    F.coalesce(F.col("fuzzy_rule"), F.lit("")).alias("rule"),
                ),
            )
        ).alias("kv"),
    ).select("doc_id", "kv.k", "kv.via", "kv.rule")
    m = keys.alias("lk").join(
        c.select("urlkey", "ts14").alias("cx"),
        F.col("lk.k") == F.col("cx.urlkey"),
    )
    has_exact = F.max(F.when(F.col("via") == "exact", 1).otherwise(0)).over(
        Window.partitionBy("doc_id")
    )
    return (
        m.select("doc_id", "via", "rule", "ts14", has_exact.alias("he"))
        .filter((F.col("via") == "exact") | (F.col("he") == 0))
        .groupBy("doc_id", "via", "rule")
        .agg(
            F.count(F.lit(1)).alias("n_captures"),
            F.min("ts14").alias("first_ts"),
            F.max("ts14").alias("last_ts"),
        )
    )


@query(
    "cdx_url_wildcard_prefix",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp, status FROM cdx
    WHERE urlkey >= 'org,example,src5)/doc/5'
      AND urlkey < 'org,example,src5)/doc/5~'
    """,
    tier="B",
)
def cdx_url_wildcard_prefix(spark, sf_dir):
    """URL-wildcard matchType inference, prefix form [B pywb/IA
    cdx-server ``url=`` sugar]: ``url=.../doc/5*`` with NO matchType
    infers a prefix query — the oracle is the EXPLICIT
    matchType=prefix range, so the hash pins that the sugared and
    explicit spellings return identical captures.  The inferred
    prefix stays a sargable [key, key+'~') range — same block/shard
    pruning as the explicit form, nothing degrades to a LIKE scan."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).select(
        "urlkey", F.col("ts14").alias("timestamp"), "status"
    )
    return cdx_query(c, "https://src5.example.org/doc/5*")


@query(
    "cdx_url_wildcard_domain",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp, status FROM cdx
    WHERE urlkey >= 'org,example,src3'
      AND urlkey < 'org,example,src3~'
    """,
    tier="B",
)
def cdx_url_wildcard_domain(spark, sf_dir):
    """URL-wildcard matchType inference, domain form [B pywb/IA
    cdx-server ``url=`` sugar]: ``url=*.src3.example.org`` with NO
    matchType infers a domain query (host plus all subdomains — the
    SURT host-reversal prefix).  Oracle = the explicit
    matchType=domain range; an explicit match_type= always wins over
    inference, and a mid-path wildcard raises instead of guessing
    (tests/test_cdx_query.py)."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).select(
        "urlkey", F.col("ts14").alias("timestamp"), "status"
    )
    return cdx_query(c, "*.src3.example.org")


def _echo_rules():
    """Rule table for cdx_fuzzy_filter_echo: a pywb param-echo rule
    (retry = truncated-prefix scan + candidate must carry the
    captured ``a=N``) AHEAD of the strip-entire-query fallback — a
    lookup the echo rule matches but whose echo finds nothing must
    come back EMPTY (pywb consults ONE rule; the fallback never
    rescues a failed echo)."""
    from ..operators.cdx_query import REMOVEALL_RULE, FuzzyRule

    return (
        FuzzyRule("echoa", r"[?&](a=[0-9]+)", filters=("urlkey:{0}",)),
        REMOVEALL_RULE,
    )


def _echo_oracle() -> str:
    from ..operators.cdx_query import sql_fuzzy_retry_exprs

    kind, target, echo, rule = sql_fuzzy_retry_exprs("key_exact", _echo_rules())
    return CDX_SQL + f"""
    , lookups0 AS (
      SELECT doc_id,
             'org,example,' || source || ')/doc/' || doc_id ||
               CASE WHEN doc_id % 3 = 0 THEN
                      CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=777'
                           ELSE '?a=9&b=777' END
                    WHEN doc_id % 2 = 1 THEN '?z=9'
                    ELSE '' END AS key_exact
      FROM documents WHERE doc_id < 300
    ), lookups AS (
      SELECT doc_id, key_exact,
             {kind} AS k_kind, {target} AS k_target,
             {echo} AS k_echo, {rule} AS k_rule
      FROM lookups0
    ), cap AS (
      SELECT urlkey, ts14,
             CASE WHEN contains(urlkey, '?')
                  THEN split_part(urlkey, '?', 1) || '?' END AS pfx
      FROM cdx
    ), m AS (
      SELECT l.doc_id, 'exact' AS via, '' AS rule, c.ts14
      FROM lookups l JOIN cap c ON l.key_exact = c.urlkey
      UNION ALL
      SELECT l.doc_id, 'fuzzy', l.k_rule, c.ts14
      FROM lookups l JOIN cap c
        ON l.k_kind = 'key' AND l.k_target = c.urlkey
      UNION ALL
      SELECT l.doc_id, 'fuzzy', l.k_rule, c.ts14
      FROM lookups l JOIN cap c
        ON l.k_kind = 'prefix' AND l.k_target = c.pfx
       AND regexp_matches(c.urlkey, l.k_echo)
    ), he AS (
      SELECT *, MAX(CASE WHEN via = 'exact' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id) AS he
      FROM m
    )
    SELECT doc_id, via, rule, COUNT(*) AS n_captures,
           MIN(ts14) AS first_ts, MAX(ts14) AS last_ts
    FROM he WHERE via = 'exact' OR he = 0
    GROUP BY doc_id, via, rule
    """


@query(
    "cdx_fuzzy_filter_echo",
    oracle=_echo_oracle(),
    tier="B",
)
def cdx_fuzzy_filter_echo(spark, sf_dir):
    """pywb ``fuzzy_lookup: filter:`` param-echo semantics [U pywb
    fuzzymatcher], BATCH form: an echo rule's retry is not a key
    rewrite but a truncated-prefix scan whose candidates must carry
    the group captured from the lookup (``?a=1&b=777`` retries as
    ``doc/N?*`` + urlkey matches ``a=1`` — finding the indexed
    ``?a=1&b=2`` variant no rewrite could name in advance).  Four
    lookup classes: echo hit (a=1 — the indexed value), echo MISS
    (a=9 — and the removeall fallback must NOT rescue it: pywb
    consults one rule), removeall strip-to-bare hit, and bare exact
    hits (he-window suppression).

    Scale shape: the non-equi 'prefix scan' becomes an EQUI-join — a
    SURT key holds at most one ``?``, so key-truncated-at-'?' equality
    IS the prefix range; both sides derive the join key scan-side
    (``apply_fuzzy_retry_spec`` CASE chain / one projection on the
    index), the echo is a join residual, and the whole resolver is
    TWO equi-joins + one window: the exact and key-rewrite arms share
    one urlkey-keyed join via the explode-fan-out (so the corpus is
    scanned twice, not three times — at 100 TB each scan is the
    dominant cost), the prefix arm joins on the truncated key.  The
    tiny lookup side broadcasts in every arm (plan-asserted: no
    BroadcastNestedLoop, no cartesian); rule-count independent."""
    from pyspark.sql.window import Window

    from ..operators.cdx_query import apply_fuzzy_retry_spec

    c = derived_cdx(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    doc = F.col("doc_id")
    qs = (
        F.when(
            doc % 3 == 0,
            F.when(doc % 2 == 0, F.lit("?b=777&a=1")).otherwise(
                F.lit("?b=777&a=9")
            ),
        )
        .when(doc % 2 == 1, F.lit("?z=9"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://WWW."),
        F.upper(F.substring("source", 1, 1)),
        F.expr("substring(source, 2)"),
        F.lit(".Example.org:443/doc/"),
        doc.cast("string"),
        qs,
    )
    lookups = apply_fuzzy_retry_spec(
        docs.withColumn("__url", url).select(
            "doc_id", surt_urlkey_cached("__url").alias("key_exact")
        ),
        "key_exact",
        _echo_rules(),
    )
    cap = c.select(
        "urlkey",
        "ts14",
        F.when(
            F.col("urlkey").contains("?"),
            F.concat(F.substring_index("urlkey", "?", 1), F.lit("?")),
        ).alias("pfx"),
    )
    # exact + key-rewrite arms share ONE urlkey-keyed join: explode
    # each lookup into its applicable equality targets (NULL-filtered)
    keyarms = lookups.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("key_exact").alias("k"),
                    F.lit("exact").alias("via"),
                    F.lit("").alias("rule"),
                ),
                F.struct(
                    F.when(
                        F.col("fuzzy_kind") == "key", F.col("fuzzy_target")
                    ).alias("k"),
                    F.lit("fuzzy").alias("via"),
                    F.coalesce(F.col("fuzzy_rule"), F.lit("")).alias("rule"),
                ),
            )
        ).alias("kv"),
    ).select("doc_id", "kv.k", "kv.via", "kv.rule").filter(
        F.col("k").isNotNull()
    )
    cx = cap.alias("cx")
    key_m = keyarms.alias("ka").join(
        cx, F.col("ka.k") == F.col("cx.urlkey")
    ).select("doc_id", "via", "rule", "ts14")
    pfx_m = (
        lookups.alias("lk")
        .filter(F.col("fuzzy_kind") == "prefix")
        .join(
            cx,
            (F.col("lk.fuzzy_target") == F.col("cx.pfx"))
            & F.expr("cx.urlkey rlike lk.fuzzy_echo"),
        )
        .select("doc_id", F.lit("fuzzy").alias("via"),
                F.col("fuzzy_rule").alias("rule"), "ts14")
    )
    m = key_m.unionByName(pfx_m)
    has_exact = F.max(F.when(F.col("via") == "exact", 1).otherwise(0)).over(
        Window.partitionBy("doc_id")
    )
    return (
        m.withColumn("he", has_exact)
        .filter((F.col("via") == "exact") | (F.col("he") == 0))
        .groupBy("doc_id", "via", "rule")
        .agg(
            F.count(F.lit(1)).alias("n_captures"),
            F.min("ts14").alias("first_ts"),
            F.max("ts14").alias("last_ts"),
        )
    )


@query(
    "cdx_limit_offset",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp, digest FROM cdx
    WHERE urlkey >= 'org,example,src7' AND urlkey < 'org,example,src7~'
    ORDER BY urlkey, ts14, digest
    LIMIT 8 OFFSET 10
    """,
    tier="B",
)
def cdx_limit_offset(spark, sf_dir):
    """IA cdx-server ``offset=N`` [B]: skip N rows of the
    (urlkey, timestamp) sort order before ``limit`` — shallow-paging
    sugar (digest tiebreak makes the slice deterministic in both
    engines).  Plans as GlobalLimit(skip) over the same TakeOrdered
    path: skipped rows never reach the driver, but they DO buffer
    per partition (offset+limit-sized top-k), so the engine caps
    offset+limit at 100k and the error routes deep pagers to
    resumeKey — the sargable path that prunes blocks instead of
    buffering skipped rows (cdx_resume_key)."""
    from ..operators.cdx_query import cdx_query

    c = derived_cdx(spark, sf_dir).select(
        "urlkey", F.col("ts14").alias("timestamp"), "digest"
    )
    return cdx_query(
        c,
        "*.src7.example.org",
        tiebreak="digest",
        limit=8,
        offset=10,
    )


def _args_rule():
    """args-form keep-list rule scoped to src6: keep only a/b params
    (the index's real query params), strip everything else."""
    from ..operators.cdx_query import FuzzyRule
    from ..sources.pywb_config import _compile_keep_args

    return (
        FuzzyRule(
            "keepargs",
            _compile_keep_args(["a", "b"]),
            key_prefix="org,example,src6)",
        ),
    )


@query(
    "cdx_fuzzy_args_keep",
    oracle=CDX_SQL + """
    , lookups0 AS (
      SELECT doc_id,
             'org,example,' || source || ')/doc/' || doc_id ||
               CASE WHEN doc_id % 3 = 0 THEN
                      CASE WHEN doc_id % 40 = 6
                           THEN '?a=1&b=2&el=x&t=9'   -- junk to strip
                           ELSE '?a=1&b=2' END        -- only kept params
                    WHEN doc_id % 40 = 6 THEN '?el=x&t=9'  -- all junk
                    ELSE '' END AS key_exact
      FROM documents WHERE doc_id < 300 AND doc_id % 20 = 6
    ), lk AS (
      -- list-based twin of the keep-args semantics: the engine runs
      -- pywb's negative-lookahead strip regex (Java); RE2 cannot, so
      -- the oracle re-derives the SAME function by splitting the
      -- query into params and filtering to the keep list — a hash
      -- match proves the regex and list formulations are the same
      -- function on this corpus
      SELECT doc_id, key_exact,
             strpos(key_exact, '?') AS qp,
             CASE WHEN strpos(key_exact, '?') > 0 THEN
               list_filter(string_split(substr(key_exact,
                             strpos(key_exact, '?') + 1), '&'),
                           p -> starts_with(p, 'a=') OR starts_with(p, 'b='))
             END AS kept,
             CASE WHEN strpos(key_exact, '?') > 0 THEN
               len(string_split(substr(key_exact,
                             strpos(key_exact, '?') + 1), '&'))
             END AS nparams
      FROM lookups0
    ), lookups AS (
      SELECT doc_id, key_exact,
             CASE WHEN qp > 0 AND len(kept) < nparams
                  AND starts_with(key_exact, 'org,example,src6)')
                  THEN 'keepargs' END AS fuzzy_rule,
             CASE WHEN qp = 0 OR len(kept) = nparams
                  OR NOT starts_with(key_exact, 'org,example,src6)')
                    THEN key_exact
                  WHEN len(kept) = 0 THEN split_part(key_exact, '?', 1)
                  ELSE split_part(key_exact, '?', 1) || '?'
                       || array_to_string(kept, '&') END AS key_fuzzy
      FROM lk
    ), keys AS (
      SELECT doc_id, key_exact AS k, 'exact' AS via, '' AS rule FROM lookups
      UNION ALL
      SELECT doc_id, key_fuzzy AS k, 'fuzzy' AS via,
             COALESCE(fuzzy_rule, '') AS rule FROM lookups
    ), m AS (
      SELECT k.doc_id, k.via, k.rule, c.ts14,
             MAX(CASE WHEN k.via = 'exact' THEN 1 ELSE 0 END)
               OVER (PARTITION BY k.doc_id) AS he
      FROM keys k JOIN cdx c ON k.k = c.urlkey
    )
    SELECT doc_id, via, rule, COUNT(*) AS n_captures,
           MIN(ts14) AS first_ts, MAX(ts14) AS last_ts
    FROM m WHERE via = 'exact' OR he = 0
    GROUP BY doc_id, via, rule
    """,
    tier="B",
)
def cdx_fuzzy_args_keep(spark, sf_dir):
    """pywb ``args:`` keep-list rules, FULL-ORACLE (closing the one
    pytest-only corner of the fuzzy grammar): the engine compiles
    ``args: [a, b]`` to a negative-lookahead strip regex that Java
    executes natively but RE2 cannot — so the DuckDB twin re-derives
    the SAME keep-list function by param-list splitting and
    filtering, and the driver hash pins that the two formulations
    agree across junk-stripped, only-kept (rule must NOT fire →
    exact hit), all-junk (strip to bare), and bare-exact lookup
    classes (class selector %40 — src6 doc ids are all even, so a
    %2 split would be degenerate).

    Spark side runs the REAL engine path: ``apply_fuzzy_rules`` with
    the compiled keep-args CASE chain (codegen, one regexp per key),
    then the standard one-join + he-window batch resolver."""
    from pyspark.sql.window import Window

    from ..operators.cdx_query import apply_fuzzy_rules

    c = derived_cdx(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & (F.pmod(F.col("doc_id"), F.lit(20)) == 6)
    )
    doc = F.col("doc_id")
    qs = (
        F.when(
            doc % 3 == 0,
            F.when(doc % 40 == 6, F.lit("?t=9&b=2&a=1&el=x")).otherwise(
                F.lit("?b=2&a=1")
            ),
        )
        .when(doc % 40 == 6, F.lit("?t=9&el=x"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://WWW."),
        F.upper(F.substring("source", 1, 1)),
        F.expr("substring(source, 2)"),
        F.lit(".Example.org:443/doc/"),
        doc.cast("string"),
        qs,
    )
    lookups = apply_fuzzy_rules(
        docs.withColumn("__url", url).select(
            "doc_id", surt_urlkey_cached("__url").alias("key_exact")
        ),
        "key_exact",
        _args_rule(),
    )
    keys = lookups.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("key_exact").alias("k"),
                    F.lit("exact").alias("via"),
                    F.lit("").alias("rule"),
                ),
                F.struct(
                    F.col("key_fuzzy").alias("k"),
                    F.lit("fuzzy").alias("via"),
                    F.coalesce(F.col("fuzzy_rule"), F.lit("")).alias("rule"),
                ),
            )
        ).alias("kv"),
    ).select("doc_id", "kv.k", "kv.via", "kv.rule")
    m = keys.alias("lk").join(
        c.select("urlkey", "ts14").alias("cx"),
        F.col("lk.k") == F.col("cx.urlkey"),
    )
    has_exact = F.max(F.when(F.col("via") == "exact", 1).otherwise(0)).over(
        Window.partitionBy("doc_id")
    )
    return (
        m.select("doc_id", "via", "rule", "ts14", has_exact.alias("he"))
        .filter((F.col("via") == "exact") | (F.col("he") == 0))
        .groupBy("doc_id", "via", "rule")
        .agg(
            F.count(F.lit(1)).alias("n_captures"),
            F.min("ts14").alias("first_ts"),
            F.max("ts14").alias("last_ts"),
        )
    )


@query(
    "cdx_parquet_index_roundtrip",
    oracle=CDX_SQL + """
    SELECT urlkey AS url_surtkey,
           'https://example.org/' || digest AS url,
           strptime(ts14, '%Y%m%d%H%M%S') AS fetch_time,
           CAST(status AS INT) AS fetch_status,
           mime AS content_mime_type,
           digest AS content_digest,
           filename AS warc_filename,
           CAST("offset" AS BIGINT) AS warc_record_offset,
           CAST(length AS BIGINT) AS warc_record_length,
           'crawl-03' AS crawl, 'warc' AS subset
    FROM cdx
    WHERE filename = 'crawl-03.warc.gz' AND status = 200
      AND urlkey LIKE 'org,example,src3)/%'
    """,
)
def cdx_parquet_index_roundtrip(spark, sf_dir):
    """S6/S8 columnar index sink end-to-end [B commoncrawl/
    cc-index-table layout]: write the WHOLE capture corpus as a
    hive-partitioned (crawl, subset) parquet index sorted by
    url_surtkey inside every file, then answer a one-crawl,
    one-subset, key-prefix query THROUGH it and hash-compare the
    recovered rows (typed fetch_time included) against the oracle's
    recomputation.  The read is three-layer pruned: crawl/subset are
    PARTITION filters (other directories never listed), the
    url_surtkey prefix reaches the scan as a pushed StartsWith, and
    the range-shuffled sorted layout makes row-group min/max stats
    tight (plan-asserted in tests/test_plans.py)."""
    import tempfile

    from ..sinks.parquet_index import (
        read_parquet_index,
        to_parquet_index_shape,
        write_parquet_index,
    )

    out = tempfile.mkdtemp(prefix="pqidx_rt_")
    write_parquet_index(
        to_parquet_index_shape(_zipnum_input(spark, sf_dir)),
        out,
        range_partitions=8,
        mode="overwrite",
    )
    idx = read_parquet_index(spark, out)
    return idx.filter(
        (F.col("crawl") == "crawl-03")
        & (F.col("subset") == "warc")
        & F.col("url_surtkey").startswith("org,example,src3)/")
    )


def _zipnum_epoch_store(spark, sf_dir, tmp_prefix: str) -> str:
    """Shared fixture for the ZipNum-epoch-store queries (the build
    half the probe bench skips): even-crawl captures land as epoch 0,
    odd-crawl as epoch 1, then a whole-URL takedown of the src2
    subtree as tombstone epoch 2."""
    import tempfile

    from ..sinks.zipnum import write_tombstone_epoch, write_zipnum_epoch

    out = tempfile.mkdtemp(prefix=tmp_prefix)
    # one materialized pass of the derived-CDX batch: every epoch
    # write below re-filters this frame, and re-deriving the SURT
    # canonicalization per write measured ~1.1 s/pass (round 15) —
    # the ingest-batch rows are metadata-sized, and the blocks die
    # with the query via the ContextCleaner
    base = _zipnum_input(spark, sf_dir).localCheckpoint()
    crawl_no = F.substring("filename", 7, 2).cast("int")
    write_zipnum_epoch(
        base.filter(crawl_no % 2 == 0), out, 0, shards=2, numlines=100
    )
    write_zipnum_epoch(
        base.filter(crawl_no % 2 == 1), out, 1, shards=2, numlines=100
    )
    takedown = (
        base.filter(F.col("urlkey").startswith("org,example,src2)/"))
        .select("urlkey")
        .distinct()
        .withColumn("timestamp", F.lit(None).cast("string"))
    )
    write_tombstone_epoch(takedown, out, "takedown:src2")  # epoch 2
    return out


def zipnum_time_travel_read(spark, store: str):
    """Probe half of ``zipnum_time_travel``: three snapshot reads of a
    pre-built store (each the same pruned per-epoch scan as a live
    read) unioned with a snap tag."""
    from ..sinks.zipnum import read_zipnum_epochs

    snaps = [
        read_zipnum_epochs(spark, store, as_of_epoch=i)
        .select(F.lit(i).alias("snap"), "urlkey", "timestamp")
        for i in (0, 1, 2)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out


@query(
    "zipnum_time_travel",
    oracle=CDX_SQL + """
    SELECT s.snap, c.urlkey, c.ts14 AS timestamp
    FROM cdx c CROSS JOIN (SELECT unnest([0, 1, 2]) AS snap) s
    WHERE (s.snap >= 1 OR CAST(substr(c.filename, 7, 2) AS INT) % 2 = 0)
      AND (s.snap < 2 OR c.urlkey NOT LIKE 'org,example,src2)/%')
    """,
)
def zipnum_time_travel(spark, sf_dir):
    """ST1 snapshot reads on the incremental index (Iceberg-style
    time travel over the epoch LSM): ingest even-crawl captures as
    epoch 0, odd-crawl captures as epoch 1, then a whole-URL takedown
    of the src2 subtree as tombstone epoch 2 — and read the SAME
    store at as_of_epoch 0, 1 and 2.  Snapshot 0 sees only the first
    ingest; snapshot 1 sees both ingests but NOT the later takedown
    (a snapshot reproduces history); snapshot 2 — the latest — hides
    every src2 capture.  Epochs are immutable with monotonic ids, so
    a snapshot is just an id cutoff: no copy-on-write, no extra
    metadata, and the oracle recomputes all three views relationally.
    Read cost per snapshot is identical to a live read (per-epoch
    block pruning + the union), so time travel adds zero scan work
    at any scale.  Build and probe halves are pinned separately
    (PINS.json ``probe_pins``) so a probe regression can't hide under
    fixture-build noise."""
    return zipnum_time_travel_read(
        spark, _zipnum_epoch_store(spark, sf_dir, "zipnum_tt_")
    )


@query(
    "cdx_epoch_diff",
    oracle=CDX_SQL + """
    SELECT 'added' AS change, urlkey, ts14 AS timestamp FROM cdx
    WHERE CAST(substr(filename, 7, 2) AS INT) % 2 = 1
      AND urlkey NOT LIKE 'org,example,src2)/%'
    UNION ALL
    SELECT 'removed', urlkey, ts14 FROM cdx
    WHERE CAST(substr(filename, 7, 2) AS INT) % 2 = 0
      AND urlkey LIKE 'org,example,src2)/%'
    """,
)
def cdx_epoch_diff(spark, sf_dir):
    """ST1 snapshot DIFF — the operational question time travel
    exists to answer: between two snapshots of one store, which
    captures APPEARED (the new crawl's additions, minus anything a
    takedown later hid) and which VANISHED (takedowns reaching
    history)?  Here: snapshot after the even-crawl ingest vs the
    latest (odd-crawl ingest + src2 takedown) — added = odd-crawl
    non-src2 captures, removed = the even-crawl src2 captures the
    tombstone now hides.  Two snapshot reads + exceptAll both ways;
    each snapshot read is the same pruned per-epoch scan as a live
    read, and exceptAll is one hash aggregation per direction — diff
    cost scales with the snapshots' sizes, never with history depth
    (epochs are immutable; nothing is replayed).  Probe half pinned
    separately (PINS.json ``probe_pins``)."""
    return cdx_epoch_diff_read(
        spark, _zipnum_epoch_store(spark, sf_dir, "zipnum_diff_")
    )


def cdx_epoch_diff_read(spark, store: str):
    """Probe half of ``cdx_epoch_diff``: two snapshot reads of a
    pre-built store + exceptAll both ways."""
    from ..sinks.zipnum import read_zipnum_epochs

    def snap(as_of):
        return read_zipnum_epochs(spark, store, as_of_epoch=as_of).select(
            "urlkey", "timestamp"
        )

    a, b = snap(0), snap(None)
    added = b.exceptAll(a).select(
        F.lit("added").alias("change"), "urlkey", "timestamp"
    )
    removed = a.exceptAll(b).select(
        F.lit("removed").alias("change"), "urlkey", "timestamp"
    )
    return added.unionByName(removed)


@query(
    "cdx_epoch_query_asof",
    oracle=CDX_SQL + """
    SELECT 1 AS snap, urlkey, ts14 AS timestamp, status
    FROM cdx
    WHERE urlkey LIKE 'org,example,src2)/%' AND status = 200
      AND ts14 >= '2015' AND ts14 < '2017'
    """,
)
def cdx_epoch_query_asof(spark, sf_dir):
    """ST1 composed surface: the SAME cdx-server request (domain
    match + status filter + from/to) against the incremental epoch
    store at two snapshots.  The src2 subtree is ingested across two
    epochs, then taken down by tombstone epoch 2 — so the request at
    ``as_of_epoch=1`` returns its captures and the identical request
    at the latest snapshot returns NOTHING (the takedown applies to
    every epoch, past and future).  The union is the oracle-checked
    result: the oracle recomputes snapshot 1 relationally, and the
    empty snapshot-2 contribution is verified by the row-count match.
    Per-epoch block pruning still applies at each snapshot — the
    domain key range prunes every epoch's secondary index before any
    shard bytes are read.  Probe half pinned separately (PINS.json
    ``probe_pins``)."""
    return cdx_epoch_query_asof_read(
        spark, _zipnum_epoch_store(spark, sf_dir, "zipnum_eq_")
    )


def cdx_epoch_query_asof_read(spark, store: str):
    """Probe half of ``cdx_epoch_query_asof``: the same composed
    request at two snapshots of a pre-built store."""
    from ..operators.cdx_query import cdx_query_epochs

    def req(as_of):
        return cdx_query_epochs(
            spark, store, "https://src2.example.org", match_type="domain",
            filters=["=status:200"], from_="2015", to="2016",
            as_of_epoch=as_of,
        ).select(
            F.lit(1 if as_of == 1 else 2).alias("snap"),
            "urlkey", "timestamp", "status",
        )

    return req(1).unionByName(req(None))


@query(
    "cdx_parquet_index_query",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp,
           'https://example.org/' || digest AS url,
           mime, status, digest,
           CAST(NULL AS VARCHAR) AS redirect,
           CAST(NULL AS VARCHAR) AS robotflags,
           CAST(length AS BIGINT) AS length,
           CAST("offset" AS BIGINT) AS "offset",
           filename
    FROM cdx
    WHERE urlkey LIKE 'org,example,src4)/%' AND status = 200
      AND ts14 >= '2015' AND ts14 < '2017'
    """,
)
def cdx_parquet_index_query(spark, sf_dir):
    """S6/S8+B composed: the SAME cdx-server request (prefix match +
    status filter + from/to) answered from the COLUMNAR parquet index
    — the third backend after the ZipNum cluster and the epoch store.
    Nothing prunes by hand: the residual pipeline's urlkey prefix
    pushes through the rename projection into the parquet scan
    (StartsWith + row-group min/max on the sorted layout), and the
    redundant typed fetch_time bounds push alongside (the ts14 string
    compare is unpushable by construction) — plan-asserted in
    tests/test_plans.py."""
    import tempfile

    from ..operators.cdx_query import cdx_query_parquet
    from ..sinks.parquet_index import (
        to_parquet_index_shape,
        write_parquet_index,
    )

    out = tempfile.mkdtemp(prefix="pqidx_q_")
    write_parquet_index(
        to_parquet_index_shape(_zipnum_input(spark, sf_dir)),
        out,
        range_partitions=8,
        mode="overwrite",
    )
    return cdx_query_parquet(
        spark, out, "https://src4.example.org/doc/", match_type="prefix",
        filters=["=status:200"], from_="2015", to="2016",
    )


_PQB_COLS = """urlkey, ts14 AS timestamp,
           'https://example.org/' || digest AS url,
           mime, status, digest,
           CAST(NULL AS VARCHAR) AS redirect,
           CAST(NULL AS VARCHAR) AS robotflags,
           CAST(length AS BIGINT) AS length,
           CAST("offset" AS BIGINT) AS "offset",
           filename"""


@query(
    "cdx_query_batch_parquet",
    oracle=CDX_SQL + f"""
    SELECT CAST(0 AS INT) AS request_no, {_PQB_COLS} FROM cdx
    WHERE urlkey = 'org,example,src1)/doc/101'
    UNION ALL
    SELECT CAST(1 AS INT), {_PQB_COLS} FROM cdx
    WHERE urlkey >= 'org,example,src4)/doc/'
      AND urlkey < 'org,example,src4)/doc/~'
      AND CAST(status AS VARCHAR) = '200'
      AND ts14 >= '20150000000000' AND ts14 <= '20169999999999'
    UNION ALL
    SELECT CAST(2 AS INT), {_PQB_COLS} FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY urlkey, ts14) AS rn FROM cdx
      WHERE urlkey >= 'org,example,src7' AND urlkey < 'org,example,src7~'
    ) WHERE rn <= 15
    """,
    tier="B",
)
def cdx_query_batch_parquet(spark, sf_dir):
    """Batch serving against the COLUMNAR backend: three requests
    (exact, prefix+filter+time-window, host with limit) answered from
    ONE pass over the cc-index-table parquet layout — the batch
    operator's union-of-ranges disjunction pushes through the rename
    projection into the parquet scan where the sorted layout's
    row-group stats answer it (file/row-group IO bounded by the union
    of the requests' ranges — the columnar analogue of the ZipNum
    batch's block-prune union, plan-asserted in tests/test_plans.py).
    Oracle = the per-request UNION."""
    import tempfile

    from ..operators.cdx_query import cdx_query_batch_parquet as batch
    from ..sinks.parquet_index import (
        to_parquet_index_shape,
        write_parquet_index,
    )

    out = tempfile.mkdtemp(prefix="pqidx_b_")
    write_parquet_index(
        to_parquet_index_shape(_zipnum_input(spark, sf_dir)),
        out,
        range_partitions=8,
        mode="overwrite",
    )
    return batch(
        spark,
        out,
        [
            {"url": "https://src1.example.org/doc/101"},
            {
                "url": "https://src4.example.org/doc/",
                "match_type": "prefix",
                "filters": ["=status:200"],
                "from_": "2015",
                "to": "2016",
            },
            {
                "url": "https://src7.example.org/x",
                "match_type": "host",
                "limit": 15,
            },
        ],
    )


@query(
    "cdx_fast_latest",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp, digest
    FROM cdx
    WHERE urlkey LIKE 'org,example,src5)/doc/%'
    ORDER BY urlkey DESC, ts14 DESC LIMIT 7
    """,
)
def cdx_fast_latest(spark, sf_dir):
    """O4 ``fastLatest=true`` [B IA cdx-server]: the last N rows of a
    prefix range served from a doubling TAIL probe of the secondary
    index (1, 2, 4, ... blocks from the range's end until ≥N rows
    survive) instead of decompressing every matching block — for a
    domain with millions of captures, plain ``limit=-N`` touches all
    of them, fastLatest touches O(N/numlines).  Filter-free requests
    are EXACT (this oracle: the last 7 captures of the src5 subtree,
    hash-matched); residual filters may return fewer than N — IA's
    documented best-effort.  Block-IO boundedness is pinned in
    tests/test_zipnum.py::test_fast_latest_tail_probe_bounds_block_io."""
    import tempfile

    from ..operators.cdx_query import cdx_query_zipnum
    from ..sinks.zipnum import write_zipnum

    out = tempfile.mkdtemp(prefix="zipnum_fl_")
    write_zipnum(_zipnum_input(spark, sf_dir), out, shards=4, numlines=20)
    return cdx_query_zipnum(
        spark, out, "https://src5.example.org/doc/", match_type="prefix",
        fast_latest=True, limit=-7,
    ).select("urlkey", "timestamp", "digest")


@query(
    "cdx_post_request_key",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 1 THEN 'GET' ELSE 'POST' END AS method,
           CASE doc_id % 4
             WHEN 1 THEN 'org,example,api)/v1/submit?channel=' || source
             WHEN 0 THEN 'org,example,api)/v1/submit?__wb_method=post&a='
                  || CAST(doc_id AS VARCHAR) || '&b='
                  || CAST(n_chars AS VARCHAR) || '&channel=' || source
             WHEN 2 THEN 'org,example,api)/v1/submit?__wb_method=post&__wb_post_data='
                  || lower(to_base64(encode('{"q":' || CAST(doc_id AS VARCHAR) || '}')))
                  || '&channel=' || source
             ELSE 'org,example,api)/v1/submit?__wb_method=post&channel=' || source
           END AS urlkey
    FROM documents
    """,
)
def cdx_post_request_key(spark, sf_dir):
    """F1+ POST-request canonicalization [U pywb
    MethodQueryCanonicalizer / cdx-indexer -p]: ``__wb_method=POST``
    plus the request body's params fold into the URL query BEFORE
    SURT, so POSTed resources (form submissions, API calls on
    JS-heavy sites) get distinct replayable urlkeys.  All four
    grammar arms oracle-checked against golden pywb-style keys built
    relationally: urlencoded bodies append verbatim (and sort among
    the URL's own params — ``__wb_method`` lands mid-query, not
    appended at the end), non-form bodies append as the opaque
    ``__wb_post_data=<base64>`` fallback, bodyless POSTs still gain
    the method marker, and GETs pass through untouched.  The whole
    fold is native column expressions composed under the native SURT
    — scan-side, zero exchanges, no Python in the hot path."""
    from ..functions.surt import fold_method_query, surt_urlkey

    d = t(spark, sf_dir, "documents")
    arm = F.col("doc_id") % 4
    url = F.concat(
        F.lit("https://api.example.org/v1/submit?channel="), F.col("source")
    )
    method = F.when(arm == 1, F.lit("GET")).otherwise(F.lit("POST"))
    ct = (
        F.when(arm == 0, F.lit("application/x-www-form-urlencoded; charset=utf-8"))
        .when(arm == 2, F.lit("application/json"))
        .otherwise(F.lit(None).cast("string"))
    )
    body = (
        F.when(
            arm == 0,
            F.concat(F.lit("a="), F.col("doc_id"), F.lit("&b="), F.col("n_chars")),
        )
        .when(arm == 2, F.concat(F.lit('{"q":'), F.col("doc_id"), F.lit("}")))
        .otherwise(F.lit(""))
    )
    return d.select(
        "doc_id",
        method.alias("method"),
        surt_urlkey(fold_method_query(url, method, ct, body)).alias("urlkey"),
    )


def _parquet_epoch_store(spark, sf_dir, tmp_prefix: str) -> str:
    """Shared fixture for the columnar-epoch-store queries: even-crawl
    captures land as epoch 0, odd-crawl as epoch 1 (two monthly-crawl
    ingest batches), then TWO takedown tombstone epochs — a whole-URL
    takedown of the src2 subtree (epoch 2) and an exact-capture
    takedown of every pre-2016 src1 capture (epoch 3)."""
    import tempfile

    from ..sinks.parquet_index import (
        to_parquet_index_shape,
        write_parquet_index_epoch,
    )
    from ..sinks.zipnum import write_tombstone_epoch

    out = tempfile.mkdtemp(prefix=tmp_prefix)
    # same one-pass materialization as _zipnum_epoch_store (four
    # epoch/tombstone writes re-read this frame)
    base = _zipnum_input(spark, sf_dir).localCheckpoint()
    crawl_no = F.substring("filename", 7, 2).cast("int")
    write_parquet_index_epoch(
        to_parquet_index_shape(base.filter(crawl_no % 2 == 0)),
        out, "even", range_partitions=4,
    )
    write_parquet_index_epoch(
        to_parquet_index_shape(base.filter(crawl_no % 2 == 1)),
        out, "odd", range_partitions=4,
    )
    wild = (
        base.filter(F.col("urlkey").startswith("org,example,src2)/"))
        .select("urlkey")
        .distinct()
        .withColumn("timestamp", F.lit(None).cast("string"))
    )
    write_tombstone_epoch(wild, out, "takedown:src2")  # epoch 2
    exact = base.filter(
        F.col("urlkey").startswith("org,example,src1)/")
        & (F.col("timestamp") < "2016")
    ).select("urlkey", "timestamp").distinct()
    write_tombstone_epoch(exact, out, "takedown:src1-pre2016")  # epoch 3
    return out


@query(
    "cdx_parquet_takedown",
    oracle=CDX_SQL + """
    SELECT urlkey, ts14 AS timestamp,
           'https://example.org/' || digest AS url,
           mime, status, digest,
           CAST(NULL AS VARCHAR) AS redirect,
           CAST(NULL AS VARCHAR) AS robotflags,
           CAST(length AS BIGINT) AS length,
           CAST("offset" AS BIGINT) AS "offset",
           filename
    FROM cdx
    WHERE status = 200
      AND urlkey NOT LIKE 'org,example,src2)/%'
      AND NOT (urlkey LIKE 'org,example,src1)/%' AND ts14 < '2016')
    """,
)
def cdx_parquet_takedown(spark, sf_dir):
    """S6/ST1 takedowns on the COLUMNAR backend [B Iceberg
    delete-file posture over the cc-index-table layout]: crawls land
    as immutable parquet epochs, a legal takedown lands as a
    tombstone epoch through the SAME manifest-allocated LSM protocol
    as the ZipNum store — and a domain-wide cdx-server request
    through ``cdx_query_parquet`` shows the taken-down captures gone
    from EVERY crawl, past and future, with zero bytes of history
    rewritten.  Both tombstone shapes are exercised: whole-URL (the
    src2 subtree vanishes entirely) and exact-capture (only the
    pre-2016 src1 captures vanish; later ones stay).  Tombstones are
    metadata-sized broadcast anti-joins at read time; physical purge
    happens at the next compaction (``parquet_compact_purge``).
    Probe half pinned separately (PINS.json ``probe_pins``)."""
    store = _parquet_epoch_store(spark, sf_dir, "pqidx_td_")
    return cdx_parquet_takedown_read(spark, store)


def cdx_parquet_takedown_read(spark, store: str):
    """Probe half of ``cdx_parquet_takedown``: the domain request
    against a pre-built tombstoned store."""
    from ..operators.cdx_query import cdx_query_parquet

    return cdx_query_parquet(
        spark, store, "https://example.org", match_type="domain",
        filters=["=status:200"],
    )


@query(
    "parquet_time_travel",
    oracle=CDX_SQL + """
    SELECT s.snap, c.urlkey AS url_surtkey, c.ts14 AS timestamp
    FROM cdx c CROSS JOIN (SELECT unnest([1, 2, 3]) AS snap) s
    WHERE (s.snap >= 2 OR CAST(substr(c.filename, 7, 2) AS INT) % 2 = 0)
      AND (s.snap < 3 OR c.urlkey NOT LIKE 'org,example,src2)/%')
    """,
)
def parquet_time_travel(spark, sf_dir):
    """ST1 snapshot reads on the columnar epoch store — the parquet
    twin of ``zipnum_time_travel``, same Iceberg-style contract
    through the shared LSM protocol: three snapshot points of ONE
    store (after the even-crawl ingest; after both ingests; after the
    src2 whole-URL takedown) read via ``as_of_epoch``.  Snapshot 2
    sees both ingests but NOT the later takedown (a snapshot
    reproduces history); the latest-at-takedown snapshot hides every
    src2 capture from both crawls.  A snapshot is an epoch-id cutoff
    — no copy-on-write, no extra metadata, and each snapshot read
    costs the same as a live read (per-epoch parquet scans with the
    pushed filters + the union).  Probe half pinned separately
    (PINS.json ``probe_pins``)."""
    store = _parquet_epoch_store(spark, sf_dir, "pqidx_tt_")
    return parquet_time_travel_read(spark, store)


def parquet_time_travel_read(spark, store: str):
    """Probe half of ``parquet_time_travel``: three snapshot reads of
    a pre-built columnar epoch store."""
    from ..sinks.parquet_index import read_parquet_index_epochs

    snaps = [
        read_parquet_index_epochs(spark, store, as_of_epoch=i)
        .select(
            F.lit(i + 1).alias("snap"),
            "url_surtkey",
            F.date_format("fetch_time", "yyyyMMddHHmmss").alias("timestamp"),
        )
        for i in (0, 1, 2)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out


@query(
    "parquet_compact_purge",
    oracle=CDX_SQL + """
    SELECT urlkey AS url_surtkey, ts14 AS timestamp, digest AS content_digest
    FROM cdx
    WHERE urlkey NOT LIKE 'org,example,src2)/%'
      AND NOT (urlkey LIKE 'org,example,src1)/%' AND ts14 < '2016')
    """,
)
def parquet_compact_purge(spark, sf_dir):
    """ST1 compaction on the columnar epoch store: fold all live
    epochs (two ingests + two takedowns) into ONE merged parquet
    epoch and read the result — the merged view must equal the
    pre-compaction latest view exactly (the takedowns survive the
    merge), while the excluded rows are now PHYSICALLY absent from
    storage, not just anti-joined away (pinned in
    tests/test_parquet_index.py, which greps the merged epoch's
    parquet bytes).  Same crash/reader-safe rename protocol as the
    ZipNum merge: build under a tmp name, record compaction.inputs,
    carry the tombstone list forward, one atomic rename.  The
    post-compaction read is pinned separately (PINS.json
    ``probe_pins``; the compaction itself is build-shaped work)."""
    from ..sinks.parquet_index import compact_parquet_index_epochs

    store = _parquet_epoch_store(spark, sf_dir, "pqidx_cp_")
    compact_parquet_index_epochs(spark, store, range_partitions=4)
    return parquet_compacted_read(spark, store)


def parquet_compacted_read(spark, store: str):
    """Probe half of ``parquet_compact_purge``: the merged-epoch read
    over an already-compacted store."""
    from ..sinks.parquet_index import read_parquet_index_epochs

    return read_parquet_index_epochs(spark, store).select(
        "url_surtkey",
        F.date_format("fetch_time", "yyyyMMddHHmmss").alias("timestamp"),
        "content_digest",
    )


@query(
    "parquet_index_zorder_box",
    oracle=CDX_SQL + """
    SELECT urlkey AS url_surtkey,
           ts14 AS timestamp,
           CAST(status AS INT) AS fetch_status,
           digest AS content_digest
    FROM cdx
    WHERE urlkey >= 'org,example,src1)/' AND urlkey < 'org,example,src5)/'
      AND ts14 >= '2016' AND ts14 < '2017'
      AND urlkey NOT LIKE 'org,example,src2)/%'
      AND NOT (urlkey LIKE 'org,example,src1)/%' AND ts14 < '2016')
    """,
)
def parquet_index_zorder_box(spark, sf_dir):
    """OPTIMIZE ZORDER on the PRODUCTION index (round 13 — closing
    the round-12 verdict's "layout optimization demoed on the events
    fixture only" gap): the leveled compaction of the columnar epoch
    store re-clusters the merged epoch on a
    ``(url_surtkey × fetch_time)`` Morton key — equi-depth quantile
    buckets, the string dimension tiled by the EXACT two-pass global
    rank — and a two-dimensional box query (key range × year) reads
    through it.  The oracle recomputes the box relationally from the
    CDX grammar WITH both takedown tombstones applied, so the hash
    match proves the layout rewrite changed no answers while the
    footer-skip evidence (tests/test_parquet_index.py) shows the box
    now prunes on BOTH dimensions — the Delta/Iceberg OPTIMIZE
    ZORDER contract on the cc-index store.  The serving half is
    pinned separately (``parquet_index_zorder_box_probe``)."""
    from ..sinks.parquet_index import compact_parquet_index_epochs

    store = _parquet_epoch_store(spark, sf_dir, "pqidx_zo_")
    compact_parquet_index_epochs(
        spark, store, range_partitions=4,
        zorder_by=("url_surtkey", "fetch_time"),
    )
    return parquet_zorder_box_read(spark, store)


def parquet_zorder_box_read(spark, store: str):
    """Probe half of ``parquet_index_zorder_box``: the 2-D box scan
    over the z-clustered merged epoch (typed predicates so BOTH reach
    the parquet footers as pushed filters)."""
    from ..sinks.parquet_index import read_parquet_index_epochs

    idx = read_parquet_index_epochs(spark, store)
    return idx.filter(
        (F.col("url_surtkey") >= "org,example,src1)/")
        & (F.col("url_surtkey") < "org,example,src5)/")
        & (F.col("fetch_time") >= F.lit("2016-01-01 00:00:00").cast("timestamp"))
        & (F.col("fetch_time") < F.lit("2017-01-01 00:00:00").cast("timestamp"))
    ).select(
        "url_surtkey",
        F.date_format("fetch_time", "yyyyMMddHHmmss").alias("timestamp"),
        "fetch_status",
        "content_digest",
    )
