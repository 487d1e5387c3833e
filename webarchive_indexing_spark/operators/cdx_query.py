"""cdx-server query API (SURVEY.md §3.3, tier B) — the composed,
user-facing query surface the reference's index exists to serve.

``cdx_query`` reproduces the pywb cdx-server parameter set over any
typed CDX DataFrame; ``cdx_query_zipnum`` runs the same semantics
against a ZipNum cluster on disk, turning the urlkey constraint into
secondary-index block pruning BEFORE decompression (the O(log) path),
then applying the identical residual pipeline.

Parameter → plan mapping:
  url/match_type  exact: key equality; prefix: [k, k+'~');
                  domain: host-reversal prefix; glob: mid-path '*'
                  wildcards — literal-prefix range + LIKE residual (P5)
  from_/to        14-digit prefix range, string compare  (P4)
  filters         'field:regex', '!field:regex', 'field~substr' (P2)
  collapse        'field' / 'field:N' / [several] run-based keep-first (W2)
  closest         per-urlkey nearest-timestamp ordering (O4/J7)
  sort_reverse    latest-first within urlkey (O5)
  fields          projection (P1)
  limit           row cap (O3)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.surt import surt_urlkey_py
from ..sqltext import select_with, sql_ident, sql_key_range, sql_lit, sql_over, sql_str
from .collapse import collapse_sql


def infer_match_type(url: str, match_type: str | None) -> tuple[str, str]:
    """pywb/IA URL-wildcard sugar [B pywb cdx-server ``url=`` forms]:
    when no explicit matchType is given, ``example.com/*`` means a
    PREFIX query and ``*.example.com`` a DOMAIN query — the two forms
    most wayback users actually type.  Returns ``(clean_url,
    match_type)``; an explicit ``match_type`` always wins (no
    inference), and a bare URL infers ``exact``.

    Any OTHER wildcard placement (mid-path ``*``, both forms at once)
    raises instead of guessing — mid-path wildcards are the ``glob``
    matchType and must be asked for explicitly, because silently
    picking prefix-vs-glob would return a different capture set than
    the user meant."""
    if match_type is not None:
        return url, match_type
    bare = url.split("://", 1)[-1]
    if bare.startswith("*."):
        rest = bare[2:]
        if "*" in rest:
            raise ValueError(
                f"cannot infer match type for {url!r}: '*.' domain form "
                "cannot combine with other wildcards"
            )
        return rest, "domain"
    if bare.endswith("*"):
        body = url[: len(url) - 1]
        if "*" in body.split("://", 1)[-1]:
            raise ValueError(
                f"cannot infer match type for {url!r}: mid-path wildcards "
                "need an explicit match_type='glob'"
            )
        return body, "prefix"
    if "*" in bare:
        raise ValueError(
            f"cannot infer match type for {url!r}: mid-path wildcards "
            "need an explicit match_type='glob'"
        )
    return url, "exact"


def _key_range(url: str, match_type: str) -> tuple[str, str | None, str | None]:
    """→ (exact_key | None, lo, hi) for the urlkey constraint."""
    key = surt_urlkey_py(url)
    if match_type == "exact":
        return key, key, key + "!"  # '!' < any printable continuation
    if match_type == "prefix":
        return None, key, key + "~"
    if match_type in ("host", "domain"):
        host = key.split(")")[0]
        return None, host, host + "~"
    if match_type == "glob":
        # everything before the first '*' is a literal SURT prefix —
        # the range-prunable part; the full pattern is a residual
        pre = key.split("*", 1)[0]
        return None, pre, pre + "~"
    raise ValueError(f"unknown match_type {match_type!r}")


def glob_to_like(key: str) -> str:
    """SURT-key glob → SQL LIKE pattern: '*' becomes '%', everything
    else is literal (LIKE metacharacters get backslash-escaped).
    pywb's url-wildcard rules use only '*' — a '?' in a URL is the
    query separator, never a wildcard."""
    out = []
    for ch in key:
        if ch == "*":
            out.append("%")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def match_glob(cdx: DataFrame, url: str) -> DataFrame:
    """P5 matchType=glob [B pywb fuzzy/url-wildcard subset]: ``url``
    may carry mid-path ``*`` wildcards.  The key range [literal-prefix,
    prefix+'~') does the heavy lifting — on ZipNum storage it prunes
    blocks exactly like matchType=prefix, so a glob over one host
    never scans the whole index — and the LIKE residual (JVM
    codegen, no UDF) finishes the match."""
    key = surt_urlkey_py(url)
    pre = key.split("*", 1)[0]
    like = _request_conds(glob_to_like(key), None, None, None)
    return cdx.filter(" AND ".join([sql_key_range(pre, pre + "~"), *like]))


class FuzzyRule:
    """One pywb-style fuzzy-match rule: a regex over the CANONICAL
    urlkey whose match is stripped before the retry lookup.  The
    pattern must capture the leading ``[?&]`` separator as group 1 and
    allow a trailing ``&`` so a mid-query strip re-joins cleanly; the
    shared trailing ``[?&]$`` cleanup handles a stripped last param.

    Modeled on pywb's default fuzzy rules file [U pywb
    rules.yaml fuzzy_lookup defaults]: rules are an ORDERED table
    (first applicable rule wins), matched against the canonicalized
    key, not the raw URL.

    ``key_prefix`` scopes the rule to one SURT subtree — pywb's
    rules.yaml keys every rule block by a SURT prefix (per-domain
    rules, e.g. the youtube/googlevideo entries); ``None`` means
    global.  A scoped rule participates in the same first-match-wins
    chain, guarded by a LIKE-prefix test (still sargable codegen).

    ``replace`` is pywb's ``fuzzy_lookup: replace:`` key [U pywb
    fuzzymatcher]: when set, the matched span is REWRITTEN to this
    LITERAL string (no group references — pywb's value is a plain
    string) instead of stripped down to the captured separator.  A
    rewrite rule canonicalizes a volatile param to a fixed stand-in
    (``v=123456`` → ``v=0``) so the retry key can EQUAL an indexed
    key — a pure strip would produce a key that was never written.
    ``None`` keeps the default strip-to-group-1 semantics.  Both
    paths share the trailing ``[?&]$`` cleanup, so a rewrite that
    empties the query still re-joins cleanly.

    ``filters`` is pywb's ``fuzzy_lookup: filter:`` key [U pywb
    fuzzymatcher param-echo]: cdx filter= templates whose ``{N}``
    placeholders substitute the match's captured groups (pywb's
    ``['urlkey:{0}']`` family).  A filter rule changes the retry
    SHAPE: instead of looking up one rewritten key, the retry scans
    the PREFIX of the key truncated after the first ``?`` (pywb's
    ``replace_after``) and keeps candidates passing the echoed
    filters — so ``watch?v=abc&t=9`` retries as ``watch?*`` +
    ``urlkey contains v=abc``, finding the indexed ``watch?v=abc``
    variant no span rewrite could name in advance.  The truncated
    prefix is still sargable (range prune / equi-join on the
    truncated key), and the echo is a codegen residual."""

    __slots__ = ("name", "pattern", "key_prefix", "replace", "filters")

    def __init__(
        self,
        name: str,
        pattern: str,
        key_prefix: str | None = None,
        replace: str | None = None,
        filters: tuple[str, ...] = (),
    ):
        self.name = name
        self.pattern = pattern
        self.key_prefix = key_prefix
        self.replace = replace
        self.filters = tuple(filters)


#: pywb's last-resort rule: when no parameter-family rule applies,
#: retry with the ENTIRE query string stripped [U pywb rules.yaml
#: default fuzzy_lookup tail].  The captured '?' plus the shared
#: trailing-separator cleanup leaves the bare path key.
REMOVEALL_RULE = FuzzyRule("removeall", r"(\?).*$")

#: the default rule table (ordered, first match wins).  Generalizes the
#: round-4 single `_cb` regex into the pywb-default families: jQuery/
#: generic digit cache busters, jsonp callbacks, session params in
#: shapes the SURT canonicalizer keeps (its own session-strip only
#: fires on 32-char alnum values), a domain-SCOPED example mirroring
#: pywb's googlevideo block (CDN volatile params — fires only under
#: its SURT prefix), and the strip-entire-query terminal fallback.
DEFAULT_FUZZY_RULES: tuple[FuzzyRule, ...] = (
    FuzzyRule("jsonp", r"([?&])callback=jsonp[0-9]+&?"),
    FuzzyRule("cachebust", r"([?&])(?:_cb|cb|_|bust|rand)=[0-9]+&?"),
    FuzzyRule(
        "session", r"([?&])(?:jsessionid|phpsessid|sessionid|sid)=[0-9a-z]+&?"
    ),
    FuzzyRule(
        "googlevideo",
        r"([?&])(?:(?:expire|ip|ipbits|itag|signature|sig|key|ratebypass|mime)=[^&]*&?)+",
        key_prefix="com,googlevideo",
    ),
    REMOVEALL_RULE,
)


def _spark_repl(rule: FuzzyRule) -> str:
    """The Spark regexp_replace replacement string for a rule: ``$1``
    (strip to the captured separator) by default, or the ``replace:``
    literal with Spark's ``$``/``\\`` replacement metacharacters
    escaped.  ONE definition — its DuckDB twin is ``_duck_repl``; the
    four call sites must never re-derive the escaping independently
    (a one-sided fix would silently de-synchronize the engines)."""
    if rule.replace is None:
        return "$1"
    return rule.replace.replace("\\", "\\\\").replace("$", "\\$")


def _duck_repl(rule: FuzzyRule) -> str:
    """DuckDB twin of ``_spark_repl``: ``\\1`` backreference by
    default, or the literal with backslashes doubled and quotes
    doubled for the SQL-string embedding."""
    if rule.replace is None:
        return "\\1"
    return rule.replace.replace("\\", "\\\\").replace("'", "''")


def _reject_filter_rules(rules: tuple[FuzzyRule, ...], api: str) -> None:
    """Key-rewrite APIs cannot express filter (param-echo) rules —
    those change the retry SHAPE (prefix scan + echoed residual, see
    ``fuzzy_retry_spec``).  Raising beats silently skipping: a
    half-applied rule table is the failure mode the loader quarantine
    exists to prevent."""
    bad = [r.name for r in rules if r.filters]
    if bad:
        raise ValueError(
            f"{api} cannot apply filter (param-echo) rules {bad}; use "
            "fuzzy_retry_spec/cdx_query(fuzzy=True) for the per-request "
            "form, or a truncated-prefix equi-join for batch"
        )


def apply_fuzzy_rules(
    df: DataFrame,
    key_col: str,
    rules: tuple[FuzzyRule, ...] = DEFAULT_FUZZY_RULES,
    *,
    fuzzy_col: str = "key_fuzzy",
    rule_col: str = "fuzzy_rule",
) -> DataFrame:
    """Scan-side fuzzy-key derivation from a rule TABLE: adds
    ``fuzzy_col`` (the key with the first matching rule's params
    stripped; equals the key when no rule applies) and ``rule_col``
    (the rule name, or NULL).  Pure regexp expressions — stays inside
    whole-stage codegen; the rule table is compiled into one
    first-match-wins CASE chain, so adding rules never adds scans or
    joins (the resolver stays ONE fan-out join downstream)."""
    _reject_filter_rules(rules, "apply_fuzzy_rules")
    key = F.col(key_col)

    def strip(rule: FuzzyRule):
        return F.regexp_replace(
            F.regexp_replace(key, rule.pattern, _spark_repl(rule)), r"[?&]$", ""
        )

    rule_expr = F.lit(None).cast("string")
    fuzzy_expr = key
    # build the CASE chain back-to-front so earlier rules win
    for rule in reversed(rules):
        cond = key.rlike(rule.pattern)
        if rule.key_prefix is not None:
            cond = cond & key.startswith(rule.key_prefix)
        rule_expr = F.when(cond, F.lit(rule.name)).otherwise(rule_expr)
        fuzzy_expr = F.when(cond, strip(rule)).otherwise(fuzzy_expr)
    return df.withColumn(fuzzy_col, fuzzy_expr).withColumn(rule_col, rule_expr)


def _echo_group(rule: FuzzyRule) -> int:
    """Scan-side (batch) support for param-echo rules covers pywb's
    default template family — ONE ``urlkey:{N}`` template per rule
    (candidate urlkey must regexp-match captured group N).  Returns
    the 1-based regex group index, or raises for templates only the
    per-request path (``fuzzy_retry_spec`` + ``_filter_sql``) can
    express."""
    import re as _re

    if len(rule.filters) != 1:
        raise ValueError(
            f"rule {rule.name}: batch echo supports exactly one filter "
            f"template, got {rule.filters}"
        )
    m = _re.fullmatch(r"urlkey:\{(\d+)\}", rule.filters[0])
    if m is None:
        raise ValueError(
            f"rule {rule.name}: batch echo supports 'urlkey:{{N}}' "
            f"templates only, got {rule.filters[0]!r}; use the "
            "per-request path for general templates"
        )
    return int(m.group(1)) + 1


def apply_fuzzy_retry_spec(
    df: DataFrame,
    key_col: str,
    rules: tuple[FuzzyRule, ...],
    *,
    kind_col: str = "fuzzy_kind",
    target_col: str = "fuzzy_target",
    echo_col: str = "fuzzy_echo",
    rule_col: str = "fuzzy_rule",
) -> DataFrame:
    """Scan-side twin of ``fuzzy_retry_spec`` over the FULL rule
    grammar (strip, ``replace:`` rewrite, ``filter:`` param-echo) —
    the batch resolver's front half.  Adds four columns, all from one
    first-match-wins CASE chain of codegen expressions:

    * ``kind_col``: 'key' | 'prefix' | NULL (no rule);
    * ``target_col``: the rewritten retry key, or the truncated
      prefix (key cut after the first ``?`` / the rule's ``replace``
      — pywb's replace_after) for echo rules;
    * ``echo_col``: the captured group the candidate's urlkey must
      regexp-match (echo rules; NULL otherwise);
    * ``rule_col``: rule name.

    Downstream, 'key' targets equi-join the index on urlkey and
    'prefix' targets equi-join on the index key truncated the same
    way (which IS the prefix range, since a SURT key holds at most
    one ``?``) with the echo as a residual — no non-equi join, no
    per-request loop, one shuffle each."""
    key = F.col(key_col)
    kind = F.lit(None).cast("string")
    target = F.lit(None).cast("string")
    echo = F.lit(None).cast("string")
    rname = F.lit(None).cast("string")
    for rule in reversed(rules):
        cond = key.rlike(rule.pattern)
        if rule.key_prefix is not None:
            cond = cond & key.startswith(rule.key_prefix)
        if rule.filters:
            g = _echo_group(rule)
            cut = rule.replace if rule.replace is not None else "?"
            # instr > 1 mirrors fuzzy_retry_spec's `inx > 0` (pywb
            # truncates only when replace_after appears PAST the key's
            # start — position 0 means no truncation)
            t = F.when(
                F.instr(key, cut) > 1,
                F.concat(F.substring_index(key, cut, 1), F.lit(cut)),
            ).otherwise(key)
            kind = F.when(cond, F.lit("prefix")).otherwise(kind)
            target = F.when(cond, t).otherwise(target)
            echo = F.when(cond, F.regexp_extract(key, rule.pattern, g)).otherwise(echo)
        else:
            t = F.regexp_replace(
                F.regexp_replace(key, rule.pattern, _spark_repl(rule)),
                r"[?&]$",
                "",
            )
            kind = F.when(cond, F.lit("key")).otherwise(kind)
            target = F.when(cond, t).otherwise(target)
            echo = F.when(cond, F.lit(None).cast("string")).otherwise(echo)
        rname = F.when(cond, F.lit(rule.name)).otherwise(rname)
    return (
        df.withColumn(kind_col, kind)
        .withColumn(target_col, target)
        .withColumn(echo_col, echo)
        .withColumn(rule_col, rname)
    )


def sql_fuzzy_retry_exprs(
    key: str, rules: tuple[FuzzyRule, ...]
) -> tuple[str, str, str, str]:
    """DuckDB twin of ``apply_fuzzy_retry_spec`` generated from the
    SAME rule table: ``(kind_case, target_case, echo_case,
    rule_case)``.  Dialect seams handled per MEMORY: ``split_part``
    for Spark's ``substring_index``, 'g'-flagged regexp_replace,
    ``\\1`` backreferences."""

    def cond(rule: FuzzyRule) -> str:
        c = f"regexp_matches({key}, '{rule.pattern}')"
        if rule.key_prefix is not None:
            c += f" AND starts_with({key}, '{rule.key_prefix}')"
        return c

    def target(rule: FuzzyRule) -> str:
        if rule.filters:
            cut = rule.replace if rule.replace is not None else "?"
            return (
                f"CASE WHEN strpos({key}, '{cut}') > 1 THEN "
                f"split_part({key}, '{cut}', 1) || '{cut}' ELSE {key} END"
            )
        return (
            f"regexp_replace(regexp_replace({key}, '{rule.pattern}', "
            f"'{_duck_repl(rule)}', 'g'), '[?&]$', '')"
        )

    def echo(rule: FuzzyRule) -> str:
        if not rule.filters:
            return "NULL"
        return f"regexp_extract({key}, '{rule.pattern}', {_echo_group(rule)})"

    def chain(val) -> str:
        arms = " ".join(f"WHEN {cond(r)} THEN {val(r)}" for r in rules)
        return f"CASE {arms} ELSE NULL END"

    return (
        chain(lambda r: "'prefix'" if r.filters else "'key'"),
        chain(target),
        chain(echo),
        chain(lambda r: f"'{r.name}'"),
    )


def sql_fuzzy_rule_exprs(
    key: str, rules: tuple[FuzzyRule, ...] = DEFAULT_FUZZY_RULES
) -> tuple[str, str]:
    """DuckDB twins of ``apply_fuzzy_rules`` generated from the SAME
    rule table: ``(rule_case, fuzzy_case)`` SQL expressions.  DuckDB
    regexp_replace needs the 'g' flag to match Spark's replace-all and
    ``\\1`` backreferences instead of ``$1``."""
    _reject_filter_rules(rules, "sql_fuzzy_rule_exprs")

    def strip(rule: FuzzyRule) -> str:
        return (
            f"regexp_replace(regexp_replace({key}, '{rule.pattern}', "
            f"'{_duck_repl(rule)}', 'g'), '[?&]$', '')"
        )

    def cond(rule: FuzzyRule) -> str:
        c = f"regexp_matches({key}, '{rule.pattern}')"
        if rule.key_prefix is not None:
            c += f" AND starts_with({key}, '{rule.key_prefix}')"
        return c

    rule_arms = " ".join(f"WHEN {cond(r)} THEN '{r.name}'" for r in rules)
    fuzzy_arms = " ".join(f"WHEN {cond(r)} THEN {strip(r)}" for r in rules)
    return (
        f"CASE {rule_arms} ELSE NULL END",
        f"CASE {fuzzy_arms} ELSE {key} END",
    )


def fuzzy_retry_spec(
    key: str, rules: tuple[FuzzyRule, ...] = DEFAULT_FUZZY_RULES
) -> tuple[str, str, tuple[str, ...], str] | None:
    """First applicable rule's retry spec for ONE lookup key (driver-
    side, per-request): ``None`` when no rule applies, else
    ``(kind, target, filters, rule_name)`` where

    * ``("key", fuzzy_key, (), name)`` — key-rewrite rules (strip or
      ``replace:`` literal): retry is an equality lookup of
      ``fuzzy_key``;
    * ``("prefix", prefix, echoed_filters, name)`` — filter
      (param-echo) rules [U pywb fuzzymatcher]: retry scans the
      sargable range [prefix, prefix+'~') — the key truncated after
      the first ``?`` (or the rule's ``replace`` string when set,
      pywb's ``replace_after``) — and keeps candidates passing the
      echoed cdx filter= templates, ``{N}`` placeholders substituted
      with the match's captured groups (None groups substitute as
      '').

    Same first-match-wins order as every other rule API."""
    import re

    for rule in rules:
        if rule.key_prefix is not None and not key.startswith(rule.key_prefix):
            continue
        m = re.search(rule.pattern, key)
        if not m:
            continue
        if rule.filters:
            cut = rule.replace if rule.replace is not None else "?"
            inx = key.find(cut)
            prefix = key[: inx + len(cut)] if inx > 0 else key
            groups = tuple(g if g is not None else "" for g in m.groups())
            return (
                "prefix",
                prefix,
                tuple(f.format(*groups) for f in rule.filters),
                rule.name,
            )
        if rule.replace is None:
            stripped = re.sub(rule.pattern, r"\1", key)
        else:
            stripped = re.sub(rule.pattern, lambda _m: rule.replace, key)
        return ("key", re.sub(r"[?&]$", "", stripped), (), rule.name)
    return None


def fuzzy_key_py(
    key: str, rules: tuple[FuzzyRule, ...] = DEFAULT_FUZZY_RULES
) -> tuple[str, str | None]:
    """Python twin of ``apply_fuzzy_rules`` for single-request paths
    (one lookup key on the driver — no reason to plan a rule CASE
    chain): returns ``(fuzzy_key, rule_name)``; the key unchanged and
    ``None`` when no rule applies.  Same first-match-wins order and
    trailing-separator cleanup as the column version.  Filter
    (param-echo) rules are not a key rewrite — this API rejects them
    (``fuzzy_retry_spec`` is the superset)."""
    import re

    _reject_filter_rules(rules, "fuzzy_key_py")
    for rule in rules:
        if rule.key_prefix is not None and not key.startswith(rule.key_prefix):
            continue
        if re.search(rule.pattern, key):
            if rule.replace is None:
                stripped = re.sub(rule.pattern, r"\1", key)
            else:
                # literal rewrite — a lambda sidesteps re.sub's own
                # backslash-escape semantics on the replacement
                stripped = re.sub(rule.pattern, lambda _m: rule.replace, key)
            return re.sub(r"[?&]$", "", stripped), rule.name
    return key, None


def apply_acl(
    cdx: DataFrame,
    rules: list[tuple[str, str]],
    *,
    default: str = "allow",
    key_col: str = "urlkey",
    access_col: str = "access",
    ts_col: str = "timestamp",
    embargo: dict | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """pywb access-control lists [U pywb wb-manager .aclj]: each rule
    is ``(surt_prefix, access)`` with access ∈ {allow, block,
    exclude, allow_ignore_embargo}; the rule with the LONGEST matching
    prefix wins (an ``exclude`` on a host can carve back an ``allow``
    on one page and vice versa).  Adds ``access_col`` with the winning
    verdict (``default`` when no rule matches) and drops ``exclude``
    rows — pywb hides excluded captures from the index entirely while
    ``block`` rows stay listed (playback returns 451).

    ``embargo`` is pywb's collection-level embargo block [U pywb
    config.yaml embargo]: a dict with any of ``before``/``after``
    (ts14 prefixes — hide captures before/after a fixed date) and
    ``newer``/``older`` (duration dicts ``{years, months, weeks,
    days, hours, minutes, seconds}`` — hide captures newer/older than
    the duration, measured from ``as_of``; fixed conventions
    years=365d, months=30d, weeks=7d — timedelta offsets, not
    calendar arithmetic, so a years: window drifts by leap days vs a
    calendar anniversary).  An embargoed capture's verdict becomes
    ``exclude`` (hidden) UNLESS its ACL verdict is
    ``allow_ignore_embargo`` — pywb's per-rule embargo exemption —
    which always displays as plain ``allow``.  ``as_of`` is the ts14
    "now" and is REQUIRED with ``newer``/``older``: the engine takes
    no clock of its own, so the same query at the same ``as_of`` is
    deterministic and oracle-checkable.  Duration arithmetic happens
    on the DRIVER (datetime), so the executors see only a literal
    ts14 string compare — no dialect seams, no per-row date math.

    The rule table compiles to ONE first-match-wins CASE chain of
    ``startswith`` tests ordered longest-prefix-first, built as a
    SINGLE parsed SQL expression (per MEMORY: a py4j when/otherwise
    loop costs ~3 driver round-trips per rule and nests CaseWhen
    thousands deep on a real .aclj) — a map-side codegen projection
    like the fuzzy-rule table; the index never shuffles, so thousands
    of rules stay a scan-side cost.  The embargo folds into each
    arm's VALUE (a constant-size inner CASE on the ts14 compare), so
    the chain stays single-pass whatever the rule count.  Spark and
    the DuckDB twin share the SAME generated string
    (``sql_acl_access``), so precedence — including duplicate-prefix
    resolution (first listed wins) — is identical by construction.
    An EMPTY rule list compiles to the bare default verdict (no
    zero-arm CASE), so embargo-only enforcement works with no .aclj
    at all."""
    expr = sql_acl_access(
        key_col,
        rules,
        default=default,
        ts_col=ts_col,
        embargo=embargo,
        as_of=as_of,
    )
    out = cdx.withColumn(access_col, F.expr(expr))
    return out.filter(F.col(access_col) != "exclude")


def _sq(s: str) -> str:
    """Single-quote-escape a literal for the generated SQL.  A
    backslash RAISES instead of escaping: Spark's parser treats ``\\``
    as an escape inside string literals while DuckDB keeps it literal,
    so no single shared string can carry one identically — and a
    silently-diverging ACL prefix could fail to hide its subtree.
    ``parse_aclj_lines`` quarantines such keys before they get here;
    this guard covers programmatic rule lists."""
    if "\\" in s:
        raise ValueError(
            f"backslash in SQL literal {s!r} is not representable "
            "identically in Spark and DuckDB; rejecting rather than "
            "risking a silently-widened ACL"
        )
    return s.replace("'", "''")


def _embargo_pred(ts_col: str, embargo: dict, as_of: str | None) -> str:
    """The shared-SQL 'capture is under embargo' predicate: OR of
    plain ts14 string compares against driver-computed literal
    thresholds.  Strictly validated — an unknown key or malformed
    duration RAISES (fail closed): a half-understood embargo that
    silently dropped a clause would SERVE embargoed captures, the one
    direction the quarantine posture forbids."""
    from datetime import datetime, timedelta

    if not isinstance(embargo, dict) or not embargo:
        raise ValueError(f"embargo must be a non-empty dict, got {embargo!r}")
    unknown = set(embargo) - {"before", "after", "newer", "older"}
    if unknown:
        raise ValueError(f"unknown embargo keys {sorted(unknown)}")

    def ts14(v: object, pad: str) -> str:
        s = str(v)
        if not (4 <= len(s) <= 14 and s.isdigit()):
            raise ValueError(f"embargo date {v!r} is not a ts14 prefix")
        return s.ljust(14, pad)

    def duration(v: object) -> timedelta:
        # fixed day-count conventions, stated so configs can be
        # audited: years=365d, months=30d, weeks=7d — durations are
        # timedelta offsets from as_of, NOT calendar arithmetic, so a
        # years: window drifts by leap days vs a calendar anniversary
        units = {"years": 365, "months": 30, "weeks": 7, "days": 1}
        if not isinstance(v, dict) or not v:
            raise ValueError(f"embargo duration {v!r} must be a non-empty dict")
        bad = set(v) - {
            "years", "months", "weeks", "days", "hours", "minutes", "seconds"
        }
        if bad:
            raise ValueError(
                f"unknown embargo duration units {sorted(bad)} (supported: "
                "years/months/weeks/days/hours/minutes/seconds with fixed "
                "conventions years=365d, months=30d, weeks=7d)"
            )
        days = hours = minutes = seconds = 0
        for unit, n in v.items():
            if not isinstance(n, int) or isinstance(n, bool) or n < 0:
                raise ValueError(f"embargo {unit}={n!r} must be an int >= 0")
            if unit in units:
                days += n * units[unit]
            elif unit == "hours":
                hours = n
            elif unit == "minutes":
                minutes = n
            else:
                seconds = n
        return timedelta(days=days, hours=hours, minutes=minutes, seconds=seconds)

    def rel_threshold(v: object) -> str:
        if as_of is None:
            raise ValueError(
                "embargo newer:/older: need as_of= (ts14 'now') — the "
                "engine takes no clock of its own"
            )
        s = str(as_of)
        if not (4 <= len(s) <= 14 and s.isdigit()):
            raise ValueError(f"as_of {as_of!r} is not a ts14 prefix")
        # a ts14 PREFIX means the start of its period: missing month/
        # day default to 01 (zero-padding would make day '00', which
        # strptime rejects), missing time to 00:00:00
        now = datetime.strptime(s + "0101000000"[len(s) - 4 :], "%Y%m%d%H%M%S")
        try:
            t = now - duration(v)
        except OverflowError:
            # the duration reaches back past year 1: before every ts14
            return "0" * 14
        # %Y is not zero-padded below year 1000
        return f"{t.year:04d}{t:%m%d%H%M%S}"

    conds = []
    if "before" in embargo:  # hide captures before the date
        conds.append(f"{ts_col} < '{ts14(embargo['before'], '0')}'")
    if "after" in embargo:  # hide captures after the date
        conds.append(f"{ts_col} > '{ts14(embargo['after'], '9')}'")
    if "newer" in embargo:  # hide captures newer than the duration
        conds.append(f"{ts_col} > '{rel_threshold(embargo['newer'])}'")
    if "older" in embargo:  # hide captures older than the duration
        conds.append(f"{ts_col} < '{rel_threshold(embargo['older'])}'")
    # NULL timestamps fail CLOSED: a damaged capture whose ts14 didn't
    # parse cannot be proven outside the embargo window, and NULL
    # compares would otherwise fall through to the served verdict —
    # the one widening direction this module forbids
    return "(" + " OR ".join(conds) + f" OR {ts_col} IS NULL)"


def sql_acl_access(
    key: str,
    rules: list[tuple[str, str]],
    *,
    default: str = "allow",
    ts_col: str = "timestamp",
    embargo: dict | None = None,
    as_of: str | None = None,
) -> str:
    """The shared longest-prefix-first verdict chain — Spark and the
    DuckDB oracle both run this exact string.  Sort key ``(-len,
    prefix)`` with a STABLE sort: equal-length distinct prefixes
    cannot both match one key, and duplicate prefixes resolve to the
    first listed rule — in both engines, because both run this exact
    string.  The prefix test is ``substr(key, 1, N) = prefix`` because
    Spark spells it ``startswith`` and DuckDB ``starts_with`` —
    ``substr`` is the spelling they share.

    With ``embargo``, each arm's VALUE becomes a constant-size inner
    CASE on the embargo predicate (``exclude`` when embargoed, unless
    the rule says ``allow_ignore_embargo``), so the rule chain itself
    is never duplicated; without it, the generated string is
    byte-identical to the pre-embargo engine's."""
    emb = _embargo_pred(ts_col, embargo, as_of) if embargo is not None else None

    def verdict(a: str) -> str:
        if a == "allow_ignore_embargo":
            return "'allow'"  # exempt from embargo, displays as allow
        if emb is None or a == "exclude":
            return f"'{_sq(a)}'"
        return f"CASE WHEN {emb} THEN 'exclude' ELSE '{_sq(a)}' END"

    if not rules:
        return verdict(default)
    arms = " ".join(
        f"WHEN substr({key}, 1, {len(p)}) = '{_sq(p)}' THEN {verdict(a)}"
        for p, a in sorted(rules, key=lambda r: (-len(r[0]), r[0]))
    )
    return f"CASE {arms} ELSE {verdict(default)} END"


def _filter_sql(f: str) -> str:
    """One pywb filter= modifier [U pywb cdxobject] → SQL predicate:
    ``field:regex`` (regex search), ``~field:substr`` / ``field~substr``
    (contains), ``=field:value`` (exact field equality), each
    invertible with a leading ``!``.  Shared by request filters,
    fuzzy-rule param echoes and the batch residual chain."""
    neg = f.startswith("!")
    body = f[1:] if neg else f
    if body.startswith("="):
        field, val = body[1:].split(":", 1)
        cond = f"CAST({sql_ident(field)} AS STRING) = {sql_str(val)}"
    elif body.startswith("~"):
        field, sub = body[1:].split(":", 1)
        cond = f"contains(CAST({sql_ident(field)} AS STRING), {sql_str(sub)})"
    elif "~" in body.split(":")[0] or (":" not in body and "~" in body):
        field, sub = body.split("~", 1)
        cond = f"contains(CAST({sql_ident(field)} AS STRING), {sql_str(sub)})"
    else:
        field, pat = body.split(":", 1)
        cond = f"CAST({sql_ident(field)} AS STRING) RLIKE {sql_str(pat)}"
    return f"(NOT ({cond}))" if neg else f"({cond})"


def _request_conds(
    like: str | None,
    from_: str | None,
    to: str | None,
    filters: list[str] | None,
) -> list[str]:
    """The per-request residual predicates (glob LIKE, from/to ts14
    bounds, filter= modifiers) — the same text in ``cdx_query`` and in
    each ``cdx_query_batch`` arm."""
    ts = sql_ident("timestamp")
    conds = []
    if like is not None:
        conds.append(f"{sql_ident('urlkey')} LIKE {sql_str(like)}")
    if from_ is not None:
        conds.append(f"{ts} >= {sql_str(from_.ljust(14, '0'))}")
    if to is not None:
        conds.append(f"{ts} <= {sql_str(to.ljust(14, '9'))}")
    conds.extend(_filter_sql(f) for f in filters or [])
    return conds


def cdx_query(
    cdx: DataFrame,
    url: str,
    *,
    match_type: str | None = None,
    from_: str | None = None,
    to: str | None = None,
    filters: list[str] | None = None,
    collapse: str | list[str] | None = None,
    collapse_to_last: bool = False,
    show_group_count: bool = False,
    show_skip_count: bool = False,
    closest: str | None = None,
    sort_reverse: bool = False,
    fields: list[str] | None = None,
    limit: int | None = None,
    offset: int | None = None,
    fuzzy: bool = False,
    fuzzy_rules: tuple[FuzzyRule, ...] = DEFAULT_FUZZY_RULES,
    resume_key: tuple[str, str] | tuple[str, str, str] | None = None,
    tiebreak: str | None = None,
    acl_rules: list[tuple[str, str]] | None = None,
    acl_default: str = "allow",
    embargo: dict | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """The full cdx-server GET /index parameter surface over a typed
    CDX DataFrame (column ``timestamp`` = 14-digit string).

    The whole residual pipeline — key predicate, access verdict,
    continuation, modifiers, fuzzy retry, collapse, ordering, limit
    and projection — is rendered as ONE Spark SQL statement over
    ``cdx`` (``sqltext.sql_over``): planning a request costs a
    constant handful of py4j calls instead of a run of call-site-
    recorded round trips per ``Column`` expression.  Every literal goes
    through ``sqltext.sql_str``.

    ``fuzzy=True`` (matchType=exact only — pywb semantics) falls back
    to the rule-stripped key when the exact key's FILTERED result is
    empty (pywb retries the fuzzy key when the whole query comes back
    empty, so exact rows that all fail ``from_``/``to``/``filters``
    do not suppress the fuzzy captures): the plan scans BOTH keys in
    one pushed-down ``IN`` filter, applies the residual filters, and
    a window keeps fuzzy rows only when no exact row survived — one
    job, never a second query round-trip, and the post-pushdown
    volume is the captures of at most two urlkeys.

    ``resume_key=(urlkey, timestamp)`` is pywb's ``resumeKey``
    continuation: the request resumes strictly AFTER that row in
    (urlkey, timestamp) order — with ``limit``, a client pages an
    arbitrarily large result set in bounded requests, and because the
    predicate is a sargable range over the leading sort key it still
    prunes ZipNum blocks / parquet row groups instead of skipping
    rows.  The next resume key is simply the last row the client
    received.  The 2-tuple form is pywb-compatible and, like pywb,
    drops boundary rows that share the last row's exact (urlkey,
    timestamp) — pass ``tiebreak="digest"`` (any column unique within
    a same-second run) and a 3-tuple ``(urlkey, timestamp, tieval)``
    for gap-free paging over same-second recrawls: the tiebreak column
    joins the sort order and the continuation predicate.  resume_key
    assumes the default ascending order; combining it with
    ``sort_reverse`` or ``closest`` raises.

    ``match_type=None`` infers from URL-wildcard sugar
    (``infer_match_type``): ``example.com/*`` → prefix,
    ``*.example.com`` → domain, bare URL → exact; an explicit
    match_type always wins."""
    url, match_type = infer_match_type(url, match_type)
    exact, lo, hi = _key_range(url, match_type)
    if resume_key is not None:
        if sort_reverse or closest is not None:
            raise ValueError(
                "resume_key pages the default (urlkey, timestamp) ascending "
                "order; it cannot combine with sort_reverse or closest"
            )
        if len(resume_key) == 3 and tiebreak is None:
            raise ValueError("a 3-tuple resume_key requires tiebreak=")
    if limit is not None and limit < 0:
        if offset is not None:
            raise ValueError("offset= cannot combine with a negative limit")
    elif offset is not None:
        # IA cdx-server offset=N [B]: skip N rows of the sort order
        # before limit.  Spark's TakeOrdered path allocates an
        # (offset+limit)-sized top-k buffer PER PARTITION, so an
        # unbounded offset is an executor OOM, not a slow query
        # (measured: offset=1e9 kills the JVM) — offset is
        # SHALLOW-paging sugar and is capped; deep paging must use
        # resume_key, whose continuation predicate is sargable and
        # prunes blocks instead of buffering skipped rows.
        if offset < 0:
            raise ValueError("offset= must be >= 0")
        if offset + (limit or 0) > 100_000:
            raise ValueError(
                "offset+limit beyond 100k rows would buffer that many "
                "rows per partition; page deeply with resume_key= "
                "instead (sargable, block-pruning)"
            )

    uk, ts = sql_ident("urlkey"), sql_ident("timestamp")
    fuzzy_exact = None  # the exact key, while a fuzzy retry is pending
    if exact is not None:
        spec = fuzzy_retry_spec(exact, fuzzy_rules) if fuzzy else None
        if spec is not None and spec[0] == "prefix":
            # param-echo rule [U pywb fuzzymatcher]: retry is the
            # truncated-prefix RANGE plus the echoed filters — both
            # sargable/codegen; exact rows bypass the echo
            _, pre, echoes, _rule = spec
            retry = " AND ".join([sql_key_range(pre, pre + "~"), *map(_filter_sql, echoes)])
            key_pred = f"({uk} = {sql_str(exact)} OR ({retry}))"
            fuzzy_exact = exact
        elif spec is not None and spec[0] == "key" and spec[1] != exact:
            key_pred = f"{uk} IN ({sql_str(exact)}, {sql_str(spec[1])})"
            fuzzy_exact = exact
        else:
            key_pred = f"{uk} = {sql_str(exact)}"
    else:
        key_pred = sql_key_range(lo, hi)

    conds = []
    if resume_key is not None:
        rk, rts = sql_lit(resume_key[0]), sql_lit(resume_key[1])
        after_ts = f"{ts} > {rts}"
        if len(resume_key) == 3:
            # NULL tiebreaks print as '-' in the resume key (the CDX
            # null placeholder, sorting before every hex/alnum value);
            # coalesce the COLUMN to the same placeholder so the
            # strictly-after compare is total — a raw NULL > '-' is
            # SQL-NULL and would silently skip same-second rows whose
            # tiebreak is missing (e.g. damaged digests).
            tb = f"coalesce({sql_ident(tiebreak)}, {sql_str('-')})"
            after_ts = f"({after_ts} OR ({ts} = {rts} AND {tb} > {sql_lit(resume_key[2])}))"
        conds.append(f"({uk} > {rk} OR ({uk} = {rk} AND {after_ts}))")
    like = glob_to_like(surt_urlkey_py(url)) if match_type == "glob" else None
    conds += _request_conds(like, from_, to, filters)

    def statement(src: str) -> str:
        cols = list(cdx.columns)
        if acl_rules is not None or embargo is not None:
            # access control FIRST [U pywb ACL]: excluded captures
            # vanish before limit/collapse/fuzzy see them (they must
            # not consume limit slots or suppress a fuzzy retry);
            # blocked rows stay listed, tagged in the `access` column
            # (playback returns 451).  An embargo with no .aclj still
            # runs the verdict projection (empty rule list → bare
            # default + embargo compare).
            verdict = sql_acl_access(
                "urlkey", acl_rules or [], default=acl_default,
                embargo=embargo, as_of=as_of,
            )
            sel, cols = select_with(cols, {"access": verdict})
            stmt = f"SELECT {sel} FROM {src} WHERE {key_pred}"
            where = [f"`access` != {sql_str('exclude')}", *conds]
            stmt = f"SELECT * FROM ({stmt}) WHERE {' AND '.join(where)}"
        else:
            stmt = f"SELECT * FROM {src} WHERE {' AND '.join([key_pred, *conds])}"

        if fuzzy_exact is not None:
            # after the residual filters, so a fully-filtered-out exact
            # window falls back to the fuzzy captures (pywb's empty-
            # result-triggered retry), not just a missing exact key
            x = sql_str(fuzzy_exact)
            sel, _ = select_with(
                cols, {"__he": f"max(CASE WHEN {uk} = {x} THEN 1 ELSE 0 END) OVER ()"}
            )
            stmt = (
                f"SELECT {', '.join(map(sql_ident, cols))} FROM "
                f"(SELECT {sel} FROM ({stmt})) WHERE {uk} = {x} OR `__he` = 0"
            )

        if collapse:
            # pywb/IA accept REPEATED collapse= params: a capture is
            # skipped only when ALL collapse fields match the previous
            # one.  All-match over N fields == equality of the N-field
            # STRUCT, so multi-collapse stays the same single lag window.
            keys = []
            for spec in [collapse] if isinstance(collapse, str) else list(collapse):
                field, _, width = spec.partition(":")
                ck = f"CAST({sql_ident(field)} AS STRING)"
                keys.append(f"substring({ck}, 1, {int(width)})" if width else ck)
            stmt, cols = collapse_sql(
                f"({stmt})",
                cols,
                partition_by=["urlkey"],
                order_by=[f"{ts} ASC"],
                collapse_key=keys[0] if len(keys) == 1 else f"struct({', '.join(keys)})",
                # collapseToLast [U pywb query API]: represent each run
                # by its LATEST capture instead of its first
                keep="last" if collapse_to_last else "first",
                # IA showGroupCount=true: annotate each kept row with
                # its run size (same single shuffle — operators.collapse)
                group_count_col="groupcount" if show_group_count else None,
                # IA showSkipCount=true (+ lastskiptimestamp): captures
                # skipped since the previous kept row, and when
                skip_count_col="skipcount" if show_skip_count else None,
                skip_ts=("timestamp", "lastskiptimestamp") if show_skip_count else None,
            )

        # forward + reversed forms of whichever ordering is active, so
        # limit=-N reverses the ACTUAL sort (closest included), not a
        # hardcoded (urlkey, timestamp)
        if closest is not None:
            dist = f"abs(CAST({ts} AS BIGINT) - {int(closest.ljust(14, '0'))})"
            fwd = [(dist, True), (ts, True)]
            # same deterministic tail as the batch path's
            # tiebreak_cols: at equal |Δts| + equal timestamp
            # (same-second recrawls) the winner under a limit must not
            # depend on scan order, and the one-at-a-time answer must
            # match cdx_query_batch's rows
            fwd += [(sql_ident(c), True) for c in ("digest", "offset") if c in cols]
        else:
            fwd = [(uk, True), (ts, not sort_reverse)]
            if tiebreak is not None:
                fwd.append((sql_ident(tiebreak), not sort_reverse))

        def order(reverse: bool = False) -> str:
            return ", ".join(f"{e} {'ASC' if asc != reverse else 'DESC'}" for e, asc in fwd)

        if limit is not None and limit < 0:
            # pywb limit=-N: the LAST N rows of the sort order.  Take N
            # under the reversed ordering (TakeOrderedAndProject — still
            # no full sort), then restore the requested order.  Applied
            # BEFORE the field projection so the sort keys are still
            # available even when fl= drops them.
            stmt = (
                f"SELECT * FROM (SELECT * FROM ({stmt}) ORDER BY "
                f"{order(reverse=True)} LIMIT {int(-limit)}) ORDER BY {order()}"
            )
        else:
            stmt = f"SELECT * FROM ({stmt}) ORDER BY {order()}"
            if limit is not None:
                stmt += f" LIMIT {int(limit)}"
            if offset is not None:
                stmt += f" OFFSET {int(offset)}"
        if fields:
            stmt = f"SELECT {', '.join(map(sql_ident, fields))} FROM ({stmt})"
        return stmt

    return sql_over(cdx, statement)


#: request-spec keys cdx_query_batch understands; anything else is a
#: per-request knob the batch plan cannot share and must go through
#: cdx_query (explicit refusal beats a silently different answer).
_BATCH_KEYS = {
    "url", "match_type", "from_", "to", "filters", "limit", "closest",
}


def cdx_query_batch(
    cdx: DataFrame,
    requests: list[dict],
    *,
    tiebreak_cols: tuple[str, ...] = ("digest", "offset"),
) -> DataFrame:
    """N cdx-server requests answered in ONE job (round 10 — the
    cc-index-server amortization: concurrent API queries share one
    pass over the cluster instead of N jobs re-opening the same
    shards [B cc-index-server]).  Output = each request's rows tagged
    ``request_no`` (a capture matching several requests is returned
    for each — requests are independent).

    Plan, in order:

    1. ONE scan filter = the OR of every request's urlkey range
       (matchType inference + SURT per request, driver-side) — the
       disjunction pushes to the parquet reader / prunes index
       blocks, so block-IO is bounded by the UNION of the requests'
       ranges, not the corpus (plan-asserted: single FileScan, ranges
       in PushedFilters).
    2. A BROADCAST range join against the N-row request table assigns
       ``request_no`` — N containment tests per surviving capture,
       no shuffle of capture rows.
    3. Per-request residuals (from_/to/filters/glob LIKE) as ONE
       CASE chain keyed on request_no: each arm is the same
       literal-compiled expression ``cdx_query`` would use, so the
       full filter grammar applies per request, JVM-side.
    4. Per-request ``limit`` via one window over (request_no) ordered
       by the index sort key + tiebreaks — only runs when some
       request asked for a limit, and each partition holds one
       request's already-range-pruned candidates (what a server
       answering that single request would hold).  A per-request
       ``closest=`` target (round 11 — the Memento-style bulk lookup)
       rides the SAME window: its |Δts| distance leads the order for
       that request's partition and a constant 0 leads everyone
       else's, so mixed closest/sorted batches still share one
       shuffle.  ``closest`` without ``limit`` is a no-op on the
       returned SET (ordering is presentation, limits are selection).

    Unsupported per-request knobs (collapse/sort_reverse/resume_key/
    fuzzy/fields) raise — their plans don't share a pass; batch
    serving is the bulk lookup surface, not the full grammar."""
    if not requests:
        raise ValueError("cdx_query_batch needs at least one request")
    specs = []
    for i, req in enumerate(requests):
        extra = set(req) - _BATCH_KEYS
        if extra:
            raise ValueError(
                f"request {i}: {sorted(extra)} not batchable — use cdx_query"
            )
        url, mt = infer_match_type(req["url"], req.get("match_type"))
        _exact, lo, hi = _key_range(url, mt)
        like = glob_to_like(surt_urlkey_py(url)) if mt == "glob" else None
        specs.append((i, req, lo, hi, like))

    # 1. union-of-ranges scan filter (sargable, pushes below the join)
    df = cdx.filter(
        " OR ".join(f"({sql_key_range(lo, hi)})" for _, _, lo, hi, _ in specs)
    )

    # 2. broadcast range join tags request_no
    reqdf = cdx.sparkSession.createDataFrame(
        [
            (
                i,
                lo,
                hi,
                req.get("limit"),
                # str() first: a JSON-number closest (the natural way
                # to write a timestamp) must not AttributeError on
                # int.ljust deep inside the operator
                int(str(req["closest"]).ljust(14, "0"))
                if req.get("closest")
                else None,
            )
            for i, req, lo, hi, _ in specs
        ],
        "request_no int, __lo string, __hi string, __limit int, "
        "__closest bigint",
    )
    j = df.join(
        F.broadcast(reqdf),
        (F.col("urlkey") >= F.col("__lo")) & (F.col("urlkey") < F.col("__hi")),
    )

    # 3. per-request residual CASE chain (literal-compiled arms, the
    # same predicate text cdx_query renders), parsed once
    arms = []
    for i, req, _, _, like in specs:
        conds = _request_conds(like, req.get("from_"), req.get("to"), req.get("filters"))
        arms.append(f"WHEN `request_no` = {i} THEN {' AND '.join(conds) or 'TRUE'}")
    j = j.filter(f"CASE {' '.join(arms)} END")

    # 4. per-request limit (skipped entirely when nobody asked).  The
    # order is request-conditional INSIDE one window: closest requests
    # lead with the |Δts| distance (urlkey demoted to a constant — the
    # single-request closest order is (dist, ts)), everyone else gets
    # the plain (urlkey, ts) index order via a constant-0 distance.
    if any(req.get("limit") is not None for _, req, _, _, _ in specs):
        from pyspark.sql.window import Window

        dist = F.when(
            F.col("__closest").isNotNull(),
            F.abs(F.col("timestamp").cast("bigint") - F.col("__closest")),
        ).otherwise(F.lit(0).cast("bigint"))
        ukey = F.when(
            F.col("__closest").isNull(), F.col("urlkey")
        ).otherwise(F.lit(""))
        order = [dist.asc(), ukey.asc(), F.col("timestamp").asc()] + [
            F.col(c).asc() for c in tiebreak_cols if c in cdx.columns
        ]
        w = Window.partitionBy("request_no").orderBy(*order)
        j = j.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__limit").isNull() | (F.col("__rn") <= F.col("__limit"))
        )
    return j.select("request_no", *cdx.columns)


def cdx_query_batch_zipnum(
    spark: SparkSession,
    cluster_dir: str,
    requests: list[dict],
    **kwargs,
) -> DataFrame:
    """``cdx_query_batch`` NATIVELY over a ZipNum cluster: every
    request's key range prunes the secondary index independently, the
    surviving block sets UNION (deduplicated — overlapping requests
    never decompress a block twice), and one distributed ranged-read
    pass parses exactly that union before the shared
    tag/filter/limit pipeline.  Shard-byte IO is therefore bounded by
    the union of the requests' block ranges — the cc-index-server
    cost model for concurrent queries — instead of N independent
    jobs re-opening the same shards."""
    from ..sinks.zipnum import _load_idx, _prune, _read_blocks

    if not requests:
        raise ValueError("cdx_query_batch_zipnum needs at least one request")
    idx = _load_idx(cluster_dir)
    chosen, seen = [], set()
    for req in requests:
        url, mt = infer_match_type(req["url"], req.get("match_type"))
        _exact, lo, hi = _key_range(url, mt)
        for b in _prune(idx, lo, hi):
            k = (b.shard, b.offset)
            if k not in seen:
                seen.add(k)
                chosen.append(b)
    chosen.sort(key=lambda b: (b.shard, b.offset))
    df = _read_blocks(spark, cluster_dir, chosen)
    return cdx_query_batch(df, requests, **kwargs)


def _query_prune_range(
    url: str, match_type: str | None, kwargs: dict
) -> tuple[str, str, str | None, str | None]:
    """Shared front half of the indexed query surfaces: wildcard
    matchType inference, the urlkey key range for block pruning, and
    the fuzzy widening (the prune range becomes the UNION of the
    exact and rule-rewritten keys' ranges — a mid-string strip can
    sort either side of the exact key, so neither ordering may be
    assumed).  Returns (url, match_type, key_lo, key_hi)."""
    url, match_type = infer_match_type(url, match_type)
    exact, lo, hi = _key_range(url, match_type)
    if exact is not None and kwargs.get("fuzzy"):
        spec = fuzzy_retry_spec(
            exact, kwargs.get("fuzzy_rules", DEFAULT_FUZZY_RULES)
        )
        if spec is not None:
            kind, target = spec[0], spec[1]
            # key retry: one more exact key; prefix (param-echo) retry:
            # the whole truncated-prefix range must be readable
            t_hi = target + ("~" if kind == "prefix" else "!")
            if kind == "prefix" or target != exact:
                lo = min(lo, target) if lo is not None else target
                hi = max(hi, t_hi) if hi is not None else t_hi
    return url, match_type, lo, hi


def cdx_query_epochs(
    spark: SparkSession,
    store_dir: str,
    url: str,
    *,
    match_type: str | None = None,
    as_of_epoch: int | None = None,
    **kwargs,
) -> DataFrame:
    """The cdx-server query surface against the INCREMENTAL epoch
    store (``update_index`` / ``stream_zipnum_epochs`` output) —
    every epoch prunes its own secondary-index blocks against the
    same key range, the survivors union, live tombstones apply, and
    the shared residual pipeline (filters, collapse, closest, sort,
    limit, resume_key) runs on the merged view.  ``as_of_epoch``
    composes snapshot time travel with the full query grammar: the
    identical request answered as the index stood at that epoch.

    Block-run pagination (``page=``/``show_num_pages``) is a
    SINGLE-cluster contract — block numbering is per-epoch, so pages
    could not tile a multi-epoch store; those requests raise here and
    belong on a compacted cluster (``cdx_query_zipnum``).  Deep
    paging via ``resume_key`` works: the continuation lifts every
    epoch's block-prune lower bound at once."""
    from ..sinks.zipnum import read_zipnum_epochs

    # page=0 is a real request, and 0 == False in Python — so the
    # int-valued knob checks absence explicitly, never falsiness
    if kwargs.pop("page", None) is not None or kwargs.pop(
        "show_num_pages", False
    ) or kwargs.pop("show_paged_index", False):
        raise ValueError(
            "page=/show_num_pages/show_paged_index are single-cluster "
            "(block-run) contracts; compact the store and page the "
            "merged cluster, or page rows with resume_key="
        )
    url, match_type, lo, hi = _query_prune_range(url, match_type, kwargs)
    rk = kwargs.get("resume_key")
    if rk is not None:
        lo = rk[0] if lo is None else max(lo, rk[0])
    pruned = read_zipnum_epochs(
        spark, store_dir, key_lo=lo, key_hi=hi, as_of_epoch=as_of_epoch
    )
    return cdx_query(pruned, url, match_type=match_type, **kwargs)


def _ts14_prefix_end(s: str) -> str:
    """Exclusive upper bound of a ts14 prefix's period as a full
    ts14: '2016' → '20170101000000', '201603' → '20160401000000' —
    the typed-timestamp twin of the residual pipeline's inclusive
    string-prefix compare."""
    from datetime import datetime, timedelta

    start = datetime.strptime(
        s + "0101000000"[len(s) - 4 :], "%Y%m%d%H%M%S"
    )
    if len(s) == 4:
        end = start.replace(year=start.year + 1)
    elif len(s) == 6:
        end = (
            start.replace(year=start.year + 1, month=1)
            if start.month == 12
            else start.replace(month=start.month + 1)
        )
    else:
        unit = {8: "days", 10: "hours", 12: "minutes", 14: "seconds"}[len(s)]
        end = start + timedelta(**{unit: 1})
    return end.strftime("%Y%m%d%H%M%S")


def _ts14_floor(s: str):
    """Driver-side twin of ``functions.timestamps.from_ts14``'s
    padding ('2015' → 2015-01-01 00:00:00, '00' month/day → '01'),
    but VALIDATING: a digit prefix that pads to a non-existent date
    ('20160230') raises ValueError instead of the Spark expression's
    silent NULL."""
    from datetime import datetime

    padded = (s + "00000000000000")[:14]
    mo = "01" if padded[4:6] == "00" else padded[4:6]
    dy = "01" if padded[6:8] == "00" else padded[6:8]
    return datetime.strptime(padded[:4] + mo + dy + padded[8:], "%Y%m%d%H%M%S")


def cdx_query_parquet(
    spark: SparkSession,
    index_dir: str,
    url: str,
    *,
    match_type: str | None = None,
    as_of_epoch: int | None = None,
    **kwargs,
) -> DataFrame:
    """The cdx-server query surface against the COLUMNAR
    (cc-index-table-layout) parquet index — the third index backend
    after the single ZipNum cluster and the incremental epoch store.
    No hand-rolled pruning at all: the index columns rename to the
    CDX shape and the shared residual pipeline's urlkey predicate
    pushes through the projection into the parquet scan, where
    Catalyst turns it into a StartsWith/range filter and the sorted
    layout makes row-group min/max stats answer it (the columnar
    analogue of cluster.idx block pruning — plan-asserted).

    ``from_``/``to`` are ADDITIONALLY applied as typed ``fetch_time``
    bounds before the rename: the residual pipeline's ts14-string
    compare is a function of a column (never pushable), while the
    redundant typed twin is sargable — the standard
    redundant-predicate trick, semantics unchanged.

    ``index_dir`` may be a STATIC index (``write_parquet_index``
    output — ``crawl=`` directories at the root) or an incremental
    EPOCH STORE (``write_parquet_index_epoch`` output — ``epoch-``
    directories); detection is by layout.  On an epoch store the read
    honors tombstone takedowns and ``as_of_epoch`` snapshot time
    travel exactly like the ZipNum epoch backend — the same LSM
    protocol, columnar payload.  ``as_of_epoch`` on a static index
    raises: a plain table has no snapshot history to travel.

    Block-run paging (``page=``) is the ZipNum cluster's contract and
    raises here; row paging via ``resume_key`` works — its
    continuation predicate is on urlkey/timestamp and pushes like any
    other."""
    from ..functions.timestamps import from_ts14
    from ..sinks.parquet_index import (
        read_parquet_index,
        read_parquet_index_epochs,
    )
    from ..sinks.zipnum import _epoch_names

    if kwargs.pop("page", None) is not None or kwargs.pop(
        "show_num_pages", False
    ) or kwargs.pop("show_paged_index", False):
        raise ValueError(
            "page=/show_num_pages/show_paged_index are ZipNum block-run "
            "contracts; the parquet index pages rows with resume_key="
        )
    if _epoch_names(index_dir):
        idx = read_parquet_index_epochs(
            spark, index_dir, as_of_epoch=as_of_epoch
        )
    elif as_of_epoch is not None:
        raise ValueError(
            "as_of_epoch= needs an incremental epoch store "
            "(write_parquet_index_epoch); this is a static parquet index"
        )
    else:
        idx = read_parquet_index(spark, index_dir)
    frm = str(kwargs["from_"]) if kwargs.get("from_") else ""
    if frm.isdigit() and len(frm) in (4, 6, 8, 10, 12, 14):
        # same guard as the to= path: odd-length / non-digit prefixes
        # skip the redundant typed bound (the residual ts14-string
        # compare still applies them exactly), and a digit prefix that
        # doesn't parse as a date ('20160230') raises here instead of
        # silently becoming `fetch_time >= NULL` (= empty result)
        idx = idx.filter(F.col("fetch_time") >= F.lit(_ts14_floor(frm)))
    to = str(kwargs["to"]) if kwargs.get("to") else ""
    if to.isdigit() and len(to) in (4, 6, 8, 10, 12, 14):
        # odd-length prefixes skip the redundant typed bound (the
        # residual string compare still applies them exactly)
        # to= is inclusive of its ts14-prefix period: strict-< against
        # the driver-computed start of the NEXT period ('9'-padding
        # would not parse as a timestamp)
        idx = idx.filter(
            F.col("fetch_time") < from_ts14(F.lit(_ts14_prefix_end(to)))
        )
    return cdx_query(
        _parquet_index_cdx(idx), url, match_type=match_type, **kwargs
    )


def _parquet_index_cdx(idx: DataFrame) -> DataFrame:
    """cc-index-table columns → the CDX shape the shared residual
    pipeline speaks.  The rename is a projection, so urlkey/status/
    mime predicates applied above it still push into the parquet
    scan."""
    return idx.select(
        F.col("url_surtkey").alias("urlkey"),
        F.date_format("fetch_time", "yyyyMMddHHmmss").alias("timestamp"),
        F.col("url"),
        F.col("content_mime_type").alias("mime"),
        F.col("fetch_status").alias("status"),
        F.col("content_digest").alias("digest"),
        F.lit(None).cast("string").alias("redirect"),
        F.lit(None).cast("string").alias("robotflags"),
        F.col("warc_record_length").alias("length"),
        F.col("warc_record_offset").alias("offset"),
        F.col("warc_filename").alias("filename"),
    )


def cdx_query_batch_parquet(
    spark: SparkSession,
    index_dir: str,
    requests: list[dict],
    **kwargs,
) -> DataFrame:
    """``cdx_query_batch`` against the COLUMNAR parquet index: the
    batch operator's union-of-ranges scan filter pushes through the
    rename projection into the parquet scan as one urlkey Or — on the
    sorted cc-index-table layout, row-group min/max stats answer it,
    so file/row-group IO is bounded by the union of the requests'
    ranges (the columnar analogue of the ZipNum batch's block-prune
    union; plan-asserted in tests).  Epoch stores read through the
    same tombstone/snapshot-honoring path as single requests."""
    from ..sinks.parquet_index import (
        read_parquet_index,
        read_parquet_index_epochs,
    )
    from ..sinks.zipnum import _epoch_names

    as_of_epoch = kwargs.pop("as_of_epoch", None)
    if _epoch_names(index_dir):
        idx = read_parquet_index_epochs(
            spark, index_dir, as_of_epoch=as_of_epoch
        )
    elif as_of_epoch is not None:
        raise ValueError(
            "as_of_epoch= needs an incremental epoch store "
            "(write_parquet_index_epoch); this is a static parquet index"
        )
    else:
        idx = read_parquet_index(spark, index_dir)
    return cdx_query_batch(_parquet_index_cdx(idx), requests, **kwargs)


def cdx_query_zipnum(
    spark: SparkSession,
    cluster_dir: str,
    url: str,
    *,
    match_type: str | None = None,
    page: int | None = None,
    page_size: int = 1,
    show_num_pages: bool = False,
    show_paged_index: bool = False,
    fast_latest: bool = False,
    **kwargs,
) -> DataFrame:
    """Same surface against a ZipNum cluster: the urlkey constraint
    prunes secondary-index blocks first (§3.3 binary-search analogue);
    everything else is the shared residual pipeline.

    A ``resume_key`` continuation LIFTS the block-prune lower bound to
    the resume urlkey — deep paging stays O(page) in blocks READ, not
    just rows returned (``_prune`` keeps the block whose key range
    contains the resume key, so no row at the boundary is lost).

    ``fuzzy=True`` WIDENS the prune range to the UNION of the exact
    and rule-stripped keys' ranges (min/max — a mid-string strip like
    ``?_cb=1&a=1`` → ``?a=1`` can sort AFTER the exact key, so neither
    ordering may be assumed), so the fallback's captures are actually
    read; without this the fuzzy path would scan only the exact key's
    blocks and silently return empty.

    Pagination controls [B pywb/IA cdx-server paging API]:
    ``show_num_pages=True`` returns the single-row page count for the
    pruned range (answered from cluster.idx alone — zero shard
    bytes); ``show_paged_index=True`` returns the secondary-index
    block lines themselves (one row per block, tagged with its page);
    ``page=N`` reads ONLY that run of ``page_size`` blocks and runs
    the identical residual pipeline on it — pages tile the full
    query, each costing ``page_size`` block reads regardless of
    index size."""
    from ..sinks.zipnum import (
        local_frame,
        num_pages,
        read_zipnum,
        read_zipnum_page,
        read_zipnum_paged_index,
    )

    url, match_type, lo, hi = _query_prune_range(url, match_type, kwargs)
    if page is not None and fast_latest:
        # alternative paging schemes, same refusal as page+resume_key:
        # page= takes the branch below and would silently ignore
        # fast_latest
        raise ValueError(
            "page= and fast_latest are alternative paging schemes; use "
            "one (fastLatest for the tail, page for block-run export)"
        )
    rk = kwargs.get("resume_key")
    if rk is not None:
        if page is not None:
            # the two paging schemes don't compose: resume_key LIFTS
            # the block-prune lower bound, which renumbers the pages —
            # page=N would silently mean a different block run
            raise ValueError(
                "page= and resume_key= are alternative paging schemes; "
                "use one (resumeKey for deep row paging, page for "
                "block-run export)"
            )
        lo = rk[0] if lo is None else max(lo, rk[0])
    if show_num_pages:
        n = num_pages(cluster_dir, key_lo=lo, key_hi=hi, page_size=page_size)
        # an Arrow local relation: the one-row answer costs no job
        return local_frame(
            spark, [(n,)], T.StructType([T.StructField("pages", T.IntegerType())])
        )
    if show_paged_index:
        return read_zipnum_paged_index(
            spark, cluster_dir, key_lo=lo, key_hi=hi, page_size=page_size
        )
    if page is not None:
        if page < 0 or page_size < 1:
            # a negative page would Python-slice from the END of the
            # block list — wrong data with no error, breaking the
            # pages-tile-the-query invariant
            raise ValueError("page= must be >= 0 and page_size >= 1")
        pruned = read_zipnum_page(
            spark, cluster_dir, page, key_lo=lo, key_hi=hi, page_size=page_size
        )
    elif fast_latest:
        # IA fastLatest=true [B IA cdx-server]: serve limit=-N from a
        # doubling TAIL probe of the pruned block range instead of
        # decompressing every matching block.  Residual filters can
        # shrink the result below N (IA's documented best-effort) —
        # the filter-free case is exact, and limit must be negative
        # because "latest" IS the sort order's tail.
        from ..sinks.zipnum import read_zipnum_tail

        limit = kwargs.get("limit")
        if limit is None or limit >= 0:
            raise ValueError("fast_latest needs a negative limit "
                             "(limit=-N = the last N rows)")
        if rk is not None or kwargs.get("closest") or kwargs.get("sort_reverse"):
            raise ValueError(
                "fast_latest serves the tail of the DEFAULT order; it "
                "cannot combine with resume_key/closest/sort_reverse"
            )
        pruned = read_zipnum_tail(
            spark, cluster_dir, -limit, key_lo=lo, key_hi=hi
        )
    else:
        pruned = read_zipnum(spark, cluster_dir, key_lo=lo, key_hi=hi)
    return cdx_query(pruned, url, match_type=match_type, **kwargs)
