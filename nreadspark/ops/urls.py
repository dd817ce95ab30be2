"""URL canonicalization + URL-based dedup as JVM column expressions.

The cheapest first-pass dedup a crawl pipeline runs BEFORE any content
hashing: two fetches of ``HTTP://Example.com:80/a/?utm_source=x&id=1#top``
and ``http://example.com/a?id=1`` are the same resource, and dropping one
at the URL layer avoids ever shuffling its payload through the content
dedup stages.

Everything is whole-stage-codegen string surgery (regexp_extract /
higher-order array functions) -- no Python, no UDF, no shuffle until the
final hash aggregation.  :func:`_url_parts` is the library's one Column
URL parse; the canonical URL (:func:`with_canonical_url`), the SURT key
(:func:`nreadspark.cdx.surt_key_col`) and the registrable domain
(:func:`with_registrable_domain`) are assembled from its staged parts by
:func:`with_url_parts`.  Each step mirrors
:func:`nreadspark.urlutil.canonical_url` token for token so the Python
reference, the Spark column and the DuckDB oracle agree byte-for-byte.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, functions as F

from ..colmemo import memo_cols
from ..urlutil import TRACKING_PARAMS

# same absolute-URL test as urlutil._ABSOLUTE_RE
_ABSOLUTE_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+"
_SCHEME_PATTERN = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"


def _url_parts(url_col: str) -> tuple:
    """The staged parse of ``url_col``: child-projection stages (dicts of
    ``__u_*`` Columns, each stage reading only earlier ones) holding the
    lowercased ``scheme``, the ``auth``-ority, the lowercased ``host``
    (userinfo-aware; a bracketed IPv6 literal is the whole host), the
    ``port`` with the scheme's default dropped, the ``tailnf`` (the tail
    after the authority, fragment cut), the ``path`` without trailing
    slashes and the query ``params`` with tracking params removed
    (unsorted, case kept).  Each layer read more than once is a column
    that later layers reference instead of re-inlining its regex chain
    (an inlined chain re-runs the authority extraction at every
    reference); each stage is one analyzed projection on the driver, so
    a layer read once stays inline.  Non-absolute URLs parse to junk parts;
    consumers gate on :data:`_ABSOLUTE_PATTERN`.  Memoized per
    SparkContext on ``url_col`` (:func:`..colmemo.memo_cols`)."""

    def keep(p):
        key = F.lower(F.element_at(F.split(p, "="), 1))
        tracking = key.isin(*sorted(TRACKING_PARAMS)) | key.startswith("utm_")
        return (F.length(p) > 0) & ~tracking

    def build():
        url = F.col(url_col)
        scheme, port0 = F.col("__u_scheme"), F.col("__u_port0")
        tail = F.col("__u_rest").substr(F.length("__u_auth") + 1, F.length("__u_rest"))
        default_port = (
            F.when(scheme == "http", "80").when(scheme == "https", "443").otherwise("")
        )
        return (
            {
                "__u_scheme": F.lower(F.regexp_extract(url, _SCHEME_PATTERN, 1)),
                "__u_rest": F.regexp_replace(url, _SCHEME_PATTERN, ""),
            },
            {"__u_auth": F.regexp_extract("__u_rest", r"^([^/?#]*)", 1)},
            {
                "__u_host": F.lower(
                    F.regexp_extract("__u_auth", r"^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)", 1)
                ),
                "__u_port0": F.regexp_extract("__u_auth", r":([0-9]+)$", 1),
                # fragment first: a '?' inside '#...' is fragment, not query
                # (SPA hash routes)
                "__u_tailnf": F.regexp_extract(tail, r"^([^#]*)", 1),
            },
            {
                "__u_port": F.when(port0 == default_port, F.lit("")).otherwise(port0),
                "__u_path": F.regexp_replace(
                    F.regexp_extract("__u_tailnf", r"^([^?]*)", 1), r"/+$", ""
                ),
                "__u_params": F.filter(
                    F.split(F.regexp_extract("__u_tailnf", r"\?(.*)", 1), "&"), keep
                ),
            },
        )

    return memo_cols(("url_parts", url_col), build)


def with_url_parts(df: DataFrame, url_col: str, out_col: str, assemble) -> DataFrame:
    """Add ``out_col`` assembled from the staged parse of ``url_col``:
    the :func:`_url_parts` stages, then the stages and final Column that
    the module-level function ``assemble(url)`` returns (its own ``__u_*``
    stages first, the final Column last; memoized per SparkContext under
    ``(assemble, url_col)``).  One projection chain, zero shuffles; every
    ``__u_*`` column is dropped."""
    *stages, final = _url_parts(url_col) + memo_cols(
        (assemble, url_col), lambda: assemble(F.col(url_col))
    )
    for stage in stages:
        df = df.withColumns(stage)
    df = df.withColumn(out_col, final)
    return df.drop(*[c for c in df.columns if c.startswith("__u_")])


def _prefixed(prefix: str, col: str) -> Column:
    """``prefix`` + ``col``, or '' where ``col`` is empty."""
    c = F.col(col)
    return F.when(c != "", F.concat(F.lit(prefix), c)).otherwise(F.lit(""))


def _path_or_root(col: str) -> Column:
    """The staged path, '' read as '/'."""
    return F.when(F.col(col) == "", F.lit("/")).otherwise(F.col(col))


def _canonical_url(url: Column) -> tuple:
    canon = F.concat(
        F.col("__u_scheme"),
        F.lit("://"),
        F.col("__u_host"),
        _prefixed(":", "__u_port"),
        _path_or_root("__u_path"),
        _prefixed("?", "__u_q"),
    )
    return (
        {"__u_q": F.array_join(F.sort_array("__u_params"), "&")},
        F.when(url.rlike(_ABSOLUTE_PATTERN), canon).otherwise(url),
    )


def _absolute_host(url: Column) -> tuple:
    return (F.when(url.rlike(_ABSOLUTE_PATTERN), F.col("__u_host")),)


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """Add ``out_col`` = :func:`nreadspark.urlutil.canonical_url` of
    ``url_col``, byte for byte: lowercase scheme/host, default ports off,
    fragment off, tracking params off, remaining params sorted, trailing
    path slashes collapsed; non-absolute URLs pass through.  Assembled
    from the staged parse (:func:`with_url_parts`), so it is one codegen
    stage and zero shuffles."""
    return with_url_parts(df, url_col, out_col, _canonical_url)


def dedup_by_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL-level duplicate groups: one row per canonical URL with its
    fetch count and canonical (minimum) doc_id -- the
    :func:`..dedup.exact_duplicates` shape keyed on the canonical URL.
    Single hash aggregation with map-side combine; the canonicalization
    itself runs inside the scan stage (staged fast form).  Scales."""
    return (
        with_canonical_url(df.select("doc_id", url_col), url_col)
        .select("canonical_url", "doc_id")
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
        )
    )


def keep_canonical_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Survivor variant: keep only each canonical URL's minimum-doc_id row
    (plus every non-absolute-URL row untouched via its passthrough
    canonical form).  One aggregation + a broadcast-eligible semi-join on
    (canonical_url, doc_id)."""
    canon = with_canonical_url(df, url_col, "__canon")
    winners = canon.groupBy("__canon").agg(F.min("doc_id").alias("doc_id"))
    return canon.join(winners, ["__canon", "doc_id"], "left_semi").drop("__canon")


# ---------------------------------------------------------------------------
# Domain-level filtering (blocklists) -- the crawl-hygiene pass public
# pipelines (C4's badwords domains, Dolma's blocklists, RefinedWeb) run
# before any content is even fetched/parsed.
# ---------------------------------------------------------------------------

# Multi-part public suffixes for the naive eTLD+1 cut below.  Deliberately
# a SMALL well-known subset (full fidelity needs the Mozilla Public Suffix
# List -- thousands of entries; load one and pass it as extra_suffixes for
# production): these cover the high-traffic ccTLD second-level registries.
# retained as the emergency fallback if the vendored PSL file is missing;
# the live rule source is load_psl() below
MULTI_PART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tw", "com.sg", "co.za", "com.ar", "co.nz",
)


@functools.lru_cache(maxsize=4)
def load_psl(include_private: bool = True):
    """Parse the vendored Public Suffix List snapshot
    (``nreadspark/resources/public_suffix_list.dat`` -- a dated curated
    subset in the upstream file format; ``scripts/update_psl.py``
    replaces it with the full upstream list verbatim when network
    access exists).

    Returns ``(exact_by_len, wildcard_parents_by_len, exc_by_len)``:

    * ``exact_by_len[k]`` -- frozenset of k-label public-suffix strings
      (single-label rules are dropped: they equal the algorithm's
      default rule);
    * ``wildcard_parents_by_len[k]`` -- frozenset of the k-label PARENTS
      of ``*.parent`` rules (the wildcard matches exactly one extra
      label, so the suffix it denotes has k+1 labels);
    * ``exc_by_len[k]`` -- frozenset of k-label ``!exception`` rules;
      per the PSL algorithm an exception's own labels ARE the
      registrable domain.

    ``include_private=False`` stops at the ICANN section (use when
    platform subdomains like ``user.github.io`` should merge into their
    operator's domain instead of counting as distinct registrants).

    Loaded via :mod:`importlib.resources` so the snapshot resolves under
    zip-import too (``spark-submit --py-files nreadspark.zip`` -- a bare
    ``open(__file__)`` path raises OSError there and would silently
    degrade the domain tiers, ADVICE r7); the emergency 16-entry
    fallback WARNS when taken."""
    import collections

    text = None
    try:
        import importlib.resources as _res

        text = (
            _res.files("nreadspark") / "resources" / "public_suffix_list.dat"
        ).read_text(encoding="utf-8")
    except Exception:
        # non-package execution (vendored source tree): plain file path
        path = os.path.join(
            os.path.dirname(__file__), "..", "resources", "public_suffix_list.dat"
        )
        try:
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
        except OSError:
            text = None
    exact = collections.defaultdict(set)
    wildcards = collections.defaultdict(set)
    exceptions = collections.defaultdict(set)
    if text is not None:
        in_private = False
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("//"):
                if "BEGIN PRIVATE DOMAINS" in line:
                    in_private = True
                continue
            if in_private and not include_private:
                continue
            rule = line.split()[0].lower()
            if rule.startswith("!"):
                labels = rule[1:].split(".")
                exceptions[len(labels)].add(rule[1:])
            elif rule.startswith("*."):
                parent = rule[2:]
                wildcards[len(parent.split("."))].add(parent)
            elif "." in rule:  # 1-label rules == the default rule
                exact[len(rule.split("."))].add(rule)
    else:  # pragma: no cover - snapshot always ships
        import warnings

        warnings.warn(
            "public_suffix_list.dat missing from the nreadspark package; "
            "falling back to the 16-entry emergency suffix set -- "
            "registrable-domain grouping (blocklists, caps, pagerank) "
            "will be degraded",
            RuntimeWarning,
            stacklevel=2,
        )
        for s in MULTI_PART_SUFFIXES:
            exact[2].add(s)
    return (
        {k: frozenset(v) for k, v in exact.items()},
        {k: frozenset(v) for k, v in wildcards.items()},
        {k: frozenset(v) for k, v in exceptions.items()},
    )


def _lastk_col(labels: Column, k: int) -> Column:
    """Last ``k`` host labels as one dotted string.  ``try_element_at``
    (not ``element_at``: ANSI mode throws on out-of-range) yields NULL
    past the array start and ``concat_ws`` skips NULLs, so a shorter
    host evaluates to its own full label join -- which has fewer dots
    than any k-label rule and therefore never false-matches one."""
    return F.concat_ws(
        ".", *[F.try_element_at(labels, F.lit(-i)) for i in range(k, 0, -1)]
    )


def _psl_rule_frames(spark, extra_suffixes=(), include_private: bool = True):
    """``{k: DataFrame(suffix, exact, wild, exc)}`` -- one small frame
    per rule label count ``k`` over the loaded PSL (:func:`load_psl`)
    plus ``extra_suffixes`` (treated as exact rules).  A suffix string
    can be several kinds at once (``platform.sh`` exact AND the parent
    of ``*.platform.sh``), hence booleans rather than a kind enum.
    Wildcard rules are keyed by their PARENT labels (the join probe is
    the host's last-k labels; the wildcard's own extra label is the
    host's (k+1)-th).  Built once per :func:`_psl_join_bundle` memo
    entry."""
    exact, wildcards, exceptions = load_psl(include_private)
    rows: dict = {}

    def add(s: str, kind: int) -> None:
        r = rows.setdefault(s, [s.count(".") + 1, False, False, False])
        r[1 + kind] = True

    for ss in exact.values():
        for s in ss:
            add(s, 0)
    for s in extra_suffixes:
        add(s.lower(), 0)
    for ss in wildcards.values():
        for s in ss:
            add(s, 1)
    for ss in exceptions.values():
        for s in ss:
            add(s, 2)
    by_k: dict = {}
    for s, (k, x, w, e) in rows.items():
        by_k.setdefault(k, []).append((s, x, w, e))

    def values_frame(v):
        # VALUES literal -> LocalTableScan (r9): ``createDataFrame`` parks
        # even a 50-row table behind an ExistingRDD scan, so every
        # BroadcastExchange over it schedules a real Spark job to collect
        # it -- ~5 rule-table broadcasts per domain-tier query was a
        # measurable slice of each query's wall time.  A LocalRelation
        # broadcast is built driver-side with no job.  Suffixes come from
        # the vendored PSL (lowercase idna labels); quotes are escaped
        # anyway so extra_suffixes can never break the literal.
        rows_sql = ", ".join(
            "('{}', {}, {}, {})".format(
                s.replace("\\", "\\\\").replace("'", "''"),
                "true" if x else "false",
                "true" if w else "false",
                "true" if e else "false",
            )
            for s, x, w, e in sorted(v)
        )
        return spark.sql(
            f"SELECT * FROM VALUES {rows_sql} AS t(suffix, exact, wild, exc)"
        )

    return {k: values_frame(v) for k, v in by_k.items()}


def with_registrable_domain(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "domain",
    extra_suffixes=(),
    include_private: bool = True,
) -> DataFrame:
    """Add ``out_col`` = registrable domain (eTLD+1) of ``url_col``'s host
    under the PSL prevailing-rule algorithm over the vendored snapshot
    (:func:`load_psl`): among matching rules the longest wins,
    ``*.parent`` wildcards match exactly one extra label, and
    ``!exception`` rules beat everything (the exception's own labels ARE
    the registrable domain -- ``!city.kawasaki.jp`` under
    ``*.kawasaki.jp``).  ``extra_suffixes`` adds per-call exact rules of
    any label count.  Priorities: exceptions ``100+k`` > wildcards
    ``k+1`` > exact ``k`` > the default last-2 rule.

    Documented divergences from a strict PSL library: a host that IS a
    public suffix (``co.uk`` itself, ``anything.ck`` under ``*.ck``,
    deeper suffixes like ``pvt.k12.ma.us`` too) has no registrable domain
    per spec; it passes through whole instead of yielding NULL --
    grouping by NULL would merge every such host into one bucket, the
    opposite of what blocklist/cap/PageRank tiers need.  IP literals (v4
    dotted quads, bracketed v6) and single-label hosts also pass through
    whole -- grouping by a truncated IP would merge unrelated servers.
    Non-absolute URLs yield NULL.

    Shape: the host comes from the staged URL parse
    (:func:`with_url_parts`) and the label array lands in a child
    projection; the host's last-k-label strings (one per rule length
    present in the list) probe per-length BROADCAST rule tables, and the
    prevailing rule is picked by one O(K) ``greatest`` over (priority,
    domain) structs.  Why a join and not a rule CASE (r8): a literal
    ``isin``-CASE over the 254-rule snapshot already blew the JVM's 64
    KB method limit when instantiated twice in one stage (the stage
    silently ran interpreted), and the full ~10k-rule upstream list
    cannot be expressed that way at all.  The join form keeps expression
    size O(K), K = distinct rule label counts (<= 5); each per-length
    table is KBs, the probes are BroadcastHashJoins fused into the same
    whole-stage-codegen pipeline -- the corpus never shuffles."""
    spark = df.sparkSession
    renamed, key_cols, decision, ks = _psl_join_bundle(
        spark, tuple(sorted({s.lower() for s in extra_suffixes})), include_private
    )
    d = with_url_parts(df, url_col, "__rd_host", _absolute_host).withColumn(
        "__rd_labels", F.split("__rd_host", r"\.")
    )
    d = d.withColumns(key_cols)
    for k in ks:
        d = d.join(renamed[k], f"__rd_sfx{k}", "left")
    drop = (
        ["__rd_host", "__rd_labels"]
        + [f"__rd_sfx{k}" for k in ks]
        + [f"__rd_{c}{k}" for k in ks for c in ("x", "w", "e")]
    )
    return d.withColumn(out_col, decision).drop(*drop)


def _psl_join_bundle(spark, extra_suffixes: tuple, include_private: bool = True):
    """The per-call-invariant pieces of :func:`with_registrable_domain`,
    memoized per SparkContext (:func:`..colmemo.memo_cols`): the
    broadcast-marked renamed rule frames, the staged last-k key
    expressions, and the prevailing-rule decision Column.  Building the
    decision is a few hundred driver-side py4j round trips -- paying it
    once per context instead of once per call is the difference between
    a ~0.1 s and a ~1 s `domain_cap` at sf0.1 (the r7 CASE was memoized
    for the same reason; Column objects are immutable unresolved
    expressions over FIXED staged names, shareable across DataFrames)."""
    return memo_cols(
        ("psl_bundle", extra_suffixes, include_private),
        lambda: _build_psl_join_bundle(spark, extra_suffixes, include_private),
    )


def _build_psl_join_bundle(spark, extra_suffixes, include_private):
    frames = _psl_rule_frames(spark, extra_suffixes, include_private)
    ks = sorted(frames)
    renamed = {
        k: F.broadcast(
            frames[k].select(
                F.col("suffix").alias(f"__rd_sfx{k}"),
                F.col("exact").alias(f"__rd_x{k}"),
                F.col("wild").alias(f"__rd_w{k}"),
                F.col("exc").alias(f"__rd_e{k}"),
            )
        )
        for k in ks
    }
    host = F.col("__rd_host")
    labels = F.col("__rd_labels")
    n = F.size(labels)
    key_cols = {f"__rd_sfx{k}": _lastk_col(labels, k) for k in ks}
    cands = []
    for k in ks:
        x, w, e = F.col(f"__rd_x{k}"), F.col(f"__rd_w{k}"), F.col(f"__rd_e{k}")
        sfx = F.col(f"__rd_sfx{k}")
        # per-length candidate: NULL when no applicable rule matched;
        # n==k / n==k+1 branches are the host-IS-the-suffix pass-through
        cands.append(
            F.when(e, F.struct(F.lit(100 + k).alias("p"), sfx.alias("d")))
            .when(
                w & (n >= k + 2),
                F.struct(F.lit(k + 1).alias("p"), _lastk_col(labels, k + 2).alias("d")),
            )
            .when(w & (n == k + 1), F.struct(F.lit(k + 1).alias("p"), host.alias("d")))
            .when(
                x & (n >= k + 1),
                F.struct(F.lit(k).alias("p"), _lastk_col(labels, k + 1).alias("d")),
            )
            .when(x & (n == k), F.struct(F.lit(k).alias("p"), host.alias("d")))
        )
    best = F.greatest(*cands) if len(cands) > 1 else cands[0]
    default = F.when(n <= 2, host).otherwise(_lastk_col(labels, 2))
    is_ip = host.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$") | host.startswith("[")
    decision = F.when(
        host.isNotNull(),
        F.when(is_ip, host).otherwise(F.coalesce(best.getField("d"), default)),
    )
    return renamed, key_cols, decision, ks


def tag_blocked_domains(
    df: DataFrame, blocked_domains, url_col: str = "url"
) -> DataFrame:
    """(doc_id, domain, blocked): registrable-domain extraction + a
    BROADCAST membership join against the blocklist (blocklists are
    thousands-to-millions of rows -- MBs; the corpus never shuffles).
    ``blocked_domains``: an iterable of domain strings or a single-column
    DataFrame."""
    spark = df.sparkSession
    if isinstance(blocked_domains, DataFrame):
        bl = blocked_domains.toDF("domain")
        bl = bl.select(F.lower("domain").alias("domain")).distinct()
    else:
        # literal blocklists fold lowercase+dedup driver-side and ship as
        # a VALUES LocalRelation (r9): createDataFrame + distinct parked
        # the broadcast build behind an ExistingRDD scan plus a shuffle --
        # two scheduled jobs before the membership join could even start
        doms = sorted({str(d).lower() for d in blocked_domains})
        if doms:
            rows_sql = ", ".join(
                "('{}')".format(d.replace("\\", "\\\\").replace("'", "''"))
                for d in doms
            )
            bl = spark.sql(f"SELECT * FROM VALUES {rows_sql} AS t(domain)")
        else:
            bl = spark.createDataFrame([], "domain string")
    bl = F.broadcast(bl.withColumn("__blocked", F.lit(True)))
    tagged = with_registrable_domain(
        df.select("doc_id", url_col), url_col, "domain"
    ).select("doc_id", "domain").join(bl, "domain", "left")
    return tagged.select(
        "doc_id", "domain", F.coalesce("__blocked", F.lit(False)).alias("blocked")
    )


def drop_blocked_domains(
    df: DataFrame, blocked_domains, url_col: str = "url"
) -> DataFrame:
    """Survivor composition: keep only rows whose registrable domain is
    NOT on the blocklist (rows with un-parseable/non-absolute URLs are
    kept -- a blocklist can only ban what it can name)."""
    keep_ids = tag_blocked_domains(df, blocked_domains, url_col).filter(
        ~F.col("blocked")
    ).select("doc_id")
    return df.join(keep_ids, "doc_id", "left_semi")


def cap_per_domain(
    df: DataFrame, max_docs: int, url_col: str = "url", keep_order_col: str = "doc_id"
) -> DataFrame:
    """Domain diversity cap: keep at most ``max_docs`` rows per
    registrable domain -- the anti-domination quota web-scale mixes apply
    so a single mega-site cannot swamp the corpus (C4 kept whole domains;
    later public recipes cap them).  Deterministic survivors: rows rank by
    ``keep_order_col`` ascending within their domain, so reruns and
    repartitions keep the same documents.  Rows with no parseable domain
    (non-absolute URLs) are never capped -- a quota needs a key.

    Shape: domain extraction in the scan stage (staged fast form), ONE
    shuffle on the domain for the ranking window.  At 100 TB the window
    partitions by domain -- skew from a mega-domain is exactly the thing
    being capped, and rank-then-filter discards its tail without
    collecting it."""
    from pyspark.sql import Window

    tagged = with_registrable_domain(df, url_col, "__cap_domain")
    w = Window.partitionBy("__cap_domain").orderBy(F.col(keep_order_col).asc())
    ranked = tagged.withColumn("__cap_rn", F.row_number().over(w))
    return (
        ranked.filter(F.col("__cap_domain").isNull() | (F.col("__cap_rn") <= max_docs))
        .drop("__cap_domain", "__cap_rn")
    )


def domain_quality_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    extra_suffixes=(),
) -> DataFrame:
    """(domain, n_docs, total_chars, mean_doc_chars, punct_ratio,
    stopword_ratio): POOLED quality per registrable domain -- the
    aggregate behind domain-level filtering (public web recipes filter
    whole domains, not just documents: a domain whose pooled text is
    keyword-stuffed spam predicts its next crawl is spam too, and the
    pooled signal is robust where single-doc heuristics are noisy).

    Exactness: every aggregate is an integer SUM (chars, punct chars,
    stopword hits via :data:`..textstats.QUALITY_STOPWORDS`, words) --
    order-independent under any partitioning -- and each ratio is ONE
    division of exact integers, so any engine reproduces the values
    bit-for-bit (means of per-doc doubles would drift with sum order).

    Shape: domain extraction + per-doc counters land in the scan
    projection (staged fast form); ONE map-side-combined hash agg on the
    domain; output is #domains rows.  Docs with no parseable domain pool
    under NULL.  Scales: no payload shuffle -- only the fixed-width
    counter rows move.
    """
    from .textstats import QUALITY_STOPWORDS

    d = with_registrable_domain(
        df.select("doc_id", url_col, text_col), url_col, "__dq_domain", extra_suffixes
    ).withColumn("__dq_words", F.split(F.trim(F.col(text_col)), r"\s+"))
    per_doc = d.select(
        F.col("__dq_domain").alias("domain"),
        F.length(text_col).cast("bigint").alias("__c"),
        F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
        .cast("bigint")
        .alias("__p"),
        F.size(F.filter(F.col("__dq_words"), lambda w: w.isin(*QUALITY_STOPWORDS)))
        .cast("bigint")
        .alias("__s"),
        F.size("__dq_words").cast("bigint").alias("__w"),
    )
    agg = per_doc.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("__c").alias("total_chars"),
        F.sum("__p").alias("__tp"),
        F.sum("__s").alias("__ts"),
        F.sum("__w").alias("__tw"),
    )
    return agg.select(
        "domain",
        "n_docs",
        "total_chars",
        F.round(F.col("total_chars") / F.col("n_docs"), 2).alias("mean_doc_chars"),
        F.round(F.col("__tp") / F.col("total_chars"), 6).alias("punct_ratio"),
        F.round(F.col("__ts") / F.col("__tw"), 6).alias("stopword_ratio"),
    )


def filter_spam_domains(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_stopword_ratio: float = 0.03,
    min_docs: int = 3,
    extra_suffixes=(),
) -> DataFrame:
    """Survivor composition: drop every document of a domain whose POOLED
    stopword ratio falls below ``min_stopword_ratio`` -- the
    keyword-stuffing / word-salad signature -- once the domain has at
    least ``min_docs`` documents (smaller domains carry too little
    pooled evidence to ban; their docs pass to per-doc filters).  Rows
    with no parseable domain are kept -- a domain filter can only ban
    what it can name.

    Shape: the flagged-domain frame is a FILTER over the #domains-row
    aggregate -- far smaller than the corpus but not assumed
    broadcastable at web scale (10^8 registrable domains exist); the
    anti-join shuffles on the domain key and AQE downgrades it to a
    broadcast join when the flagged side measures small."""
    stats = domain_quality_stats(df, url_col, text_col, extra_suffixes)
    bad = stats.filter(
        (F.col("n_docs") >= min_docs)
        & (F.col("stopword_ratio") < min_stopword_ratio)
    ).select(F.col("domain").alias("__fs_domain"))
    tagged = with_registrable_domain(df, url_col, "__fs_domain", extra_suffixes)
    return tagged.join(bad, "__fs_domain", "left_anti").drop("__fs_domain")
