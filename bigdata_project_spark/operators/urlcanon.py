"""URL canonicalization + crawl-frontier dedup (SURVEY.md §2.10).

The reference constructs listing URLs with volatile query parameters
(offset/limit, CrawlData.py:17-20) and dedups listing IDs only
(CrawlData.py:12,34); a real crawl frontier dedups URLs — and raw
URLs for the same resource differ in scheme/host case, default
ports, query-parameter order, tracking parameters, and fragments.
`crawl_url_canonical_dedup` is the frontier's admission filter:
canonicalize, key by md5(canonical), keep the first-seen fetch.

Everything is JVM-side string machinery (regexp_extract /
regexp_replace / split / filter / array_sort / concat_ws) — no
Python in the hot path — and mirrored term-for-term in the DuckDB
oracle, so the canonical STRINGS are value-verified, not just
counts.

The testbed synthesizes deterministic mess from doc_id: groups of 5
docs share a listing id, with variants exercising each rule —
scrambled parameter order, utm_/fbclid tracking params, cased
host/scheme, explicit default port, a fragment, and a no-query form
(which collapses across ALL groups into one frontier entry — the
cross-group case). Docs with doc_id % 97 == 0 get an
internationalized (non-ASCII) host, pinning unicode case-folding
cross-engine.

Scale: canonicalization is a pure map over the frontier scan; the
keeper is one hash-partitioned window by canonical key (equivalently
a groupBy MIN + equi-join) — the same shuffle discipline as exact
content dedup. At 100 TB of frontier the canonical key is also the
natural partition/bucket column for incremental frontier merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.caching import barrier
from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load

_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=")
_DEFAULT_PORTS = {"https": "443", "http": "80"}


def canonicalize_url(url):
    """Canonical form of a URL column: drop fragment, lowercase
    scheme and host, strip the scheme's default port (keep explicit
    non-default ports), drop tracking parameters, sort the remaining
    query parameters, re-assemble. Pure built-in string expressions."""
    nofrag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, "^([A-Za-z]+)://", 1))
    hostport = F.regexp_extract(nofrag, "^[A-Za-z]+://([^/?#]+)", 1)
    host = F.lower(F.regexp_replace(hostport, ":[0-9]+$", ""))
    port = F.regexp_extract(hostport, ":([0-9]+)$", 1)
    default_port = (
        F.when(scheme == "https", F.lit(_DEFAULT_PORTS["https"]))
        .when(scheme == "http", F.lit(_DEFAULT_PORTS["http"]))
        .otherwise(F.lit(""))
    )
    keep_port = (port != "") & (port != default_port)
    path = F.regexp_extract(nofrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    qs = F.regexp_extract(nofrag, "[?]([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda x: (x != "")
            & ~x.startswith(_TRACKING_PREFIXES[0])
            & ~x.startswith(_TRACKING_PREFIXES[1])
            & ~x.startswith(_TRACKING_PREFIXES[2]),
        )
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(
            F.size(params) > 0, F.concat(F.lit("?"), F.concat_ws("&", params))
        ).otherwise(F.lit("")),
    )


def _sql_canonical(url: str) -> str:
    """The DuckDB twin of canonicalize_url, term for term."""
    nofrag = f"regexp_replace({url}, '#.*$', '')"
    scheme = f"lower(regexp_extract({nofrag}, '^([A-Za-z]+)://', 1))"
    hostport = f"regexp_extract({nofrag}, '^[A-Za-z]+://([^/?#]+)', 1)"
    host = f"lower(regexp_replace({hostport}, ':[0-9]+$', ''))"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    default_port = (
        f"CASE WHEN {scheme} = 'https' THEN '443'"
        f" WHEN {scheme} = 'http' THEN '80' ELSE '' END"
    )
    path = f"regexp_extract({nofrag}, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)"
    qs = f"regexp_extract({nofrag}, '[?]([^#]*)', 1)"
    not_tracking = " AND ".join(
        f"NOT starts_with(x, '{p}')" for p in _TRACKING_PREFIXES
    )
    params = (
        f"list_sort(list_filter(string_split({qs}, '&'),"
        f" x -> x <> '' AND {not_tracking}))"
    )
    return (
        f"{scheme} || '://' || {host}"
        f" || CASE WHEN {port} <> '' AND {port} <> {default_port}"
        f"         THEN ':' || {port} ELSE '' END"
        f" || {path}"
        f" || CASE WHEN len({params}) > 0"
        f"         THEN '?' || array_to_string({params}, '&') ELSE '' END"
    )


# raw-URL synthesis: L = listing id shared by a group of 5 docs,
# v = which messy form this doc saw. Mirrored exactly in SQL below.
_BASE_PATH = "/v1/public/ad-listing"


def _raw_url_col():
    ls = F.expr("CAST(doc_id div 5 AS STRING)")
    v = F.col("doc_id") % 5
    idn = F.col("doc_id") % 97 == 0
    host = (
        F.when(idn, F.lit("GÄTEWAY.chotot.com"))
        .when(v == 0, F.lit("GATEWAY.chotot.com:443"))
        .when(v == 1, F.lit("gateway.chotot.com"))
        .when(v == 2, F.lit("Gateway.Chotot.Com"))
        .when(v == 3, F.lit("gateway.chotot.com:443"))
        .otherwise(F.lit("gateway.chotot.com"))
    )
    scheme = F.when(v == 3, F.lit("HTTPS")).otherwise(F.lit("https"))
    tail = (
        F.when(v == 0, F.concat(F.lit("?cg=1000&region_v2=12000&o="), ls))
        .when(v == 1, F.concat(F.lit("?region_v2=12000&o="), ls, F.lit("&cg=1000")))
        .when(
            v == 2,
            F.concat(
                F.lit("?o="), ls, F.lit("&cg=1000&region_v2=12000&utm_source=fb&fbclid=XYZ")
            ),
        )
        .when(
            v == 3,
            F.concat(F.lit("?utm_campaign=x&cg=1000&o="), ls, F.lit("&region_v2=12000")),
        )
        .otherwise(F.lit("#top"))  # v=4: no query, fragment only
    )
    return F.concat(scheme, F.lit("://"), host, F.lit(_BASE_PATH), tail)


_SQL_RAW_URL = f"""
    raw AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 3 THEN 'HTTPS' ELSE 'https' END
               || '://'
               || CASE WHEN doc_id % 97 = 0 THEN 'GÄTEWAY.chotot.com'
                       WHEN doc_id % 5 = 0 THEN 'GATEWAY.chotot.com:443'
                       WHEN doc_id % 5 = 1 THEN 'gateway.chotot.com'
                       WHEN doc_id % 5 = 2 THEN 'Gateway.Chotot.Com'
                       WHEN doc_id % 5 = 3 THEN 'gateway.chotot.com:443'
                       ELSE 'gateway.chotot.com' END
               || '{_BASE_PATH}'
               || CASE WHEN doc_id % 5 = 0
                       THEN '?cg=1000&region_v2=12000&o=' || CAST(doc_id // 5 AS VARCHAR)
                       WHEN doc_id % 5 = 1
                       THEN '?region_v2=12000&o=' || CAST(doc_id // 5 AS VARCHAR) || '&cg=1000'
                       WHEN doc_id % 5 = 2
                       THEN '?o=' || CAST(doc_id // 5 AS VARCHAR)
                            || '&cg=1000&region_v2=12000&utm_source=fb&fbclid=XYZ'
                       WHEN doc_id % 5 = 3
                       THEN '?utm_campaign=x&cg=1000&o=' || CAST(doc_id // 5 AS VARCHAR)
                            || '&region_v2=12000'
                       ELSE '#top' END AS url
        FROM documents
    )
"""


@query(
    "crawl_url_canonical_dedup",
    # the canonical strings themselves are in the output, so a single
    # mis-handled rule (port kept, tracking param surviving, unsorted
    # params, unfolded case) fails the value hash
    oracle=f"""
    WITH {_SQL_RAW_URL},
    canon AS (
        SELECT doc_id, url, {_sql_canonical("url")} AS canonical
        FROM raw
    )
    SELECT doc_id, url, canonical,
           MIN(doc_id) OVER (PARTITION BY md5(canonical)) AS keeper_doc,
           CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY md5(canonical)) AS INT)
             AS is_dup
    FROM canon
    """,
    tags=("crawl", "dedup", "url", "scalar", "llm"),
)
def crawl_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup: canonicalize every raw URL, key by
    md5(canonical), keep the first-seen doc per key (module
    docstring). Variants v=0..3 of each listing group collapse to
    one canonical URL; the fragment-only v=4 form collapses ACROSS
    groups; IDN hosts (doc_id % 97 == 0) fold to their lowercase
    form and stay distinct from the ASCII host. Every raw doc keeps
    a row (the frontier needs the verdict per URL, not only the
    survivors), with keeper_doc pointing at the fetch that wins."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    raw = docs.select("doc_id", _raw_url_col().alias("url"))
    canon = raw.select("doc_id", "url", canonicalize_url(F.col("url")).alias("canonical"))
    w = W.partitionBy(F.md5("canonical"))
    keeper = F.min("doc_id").over(w)
    return canon.select(
        "doc_id",
        "url",
        "canonical",
        keeper.alias("keeper_doc"),
        (F.col("doc_id") != keeper).cast("int").alias("is_dup"),
    )


# ----------------------------------------------- politeness scheduler

_N_WORKERS = 8
_SQL_HOST_BUCKET = (
    "(instr('0123456789abcdef', substring(md5(host), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring(md5(host), 2, 1)) - 1)"
)


@query(
    "crawl_politeness_schedule",
    oracle=f"""
    WITH {_SQL_RAW_URL},
    canon AS (
        SELECT doc_id, {_sql_canonical("url")} AS canonical FROM raw
    ),
    uniq AS (
        SELECT doc_id, canonical FROM (
            SELECT doc_id, canonical,
                   MIN(doc_id) OVER (PARTITION BY md5(canonical)) AS keeper
            FROM canon
        ) WHERE doc_id = keeper
    ),
    hosted AS (
        SELECT doc_id, canonical,
               regexp_extract(canonical, '^[a-z]+://([^/?#]+)', 1) AS host
        FROM uniq
    ),
    policy AS (
        SELECT doc_id, canonical, host,
               CAST(500 + 250 * (({_SQL_HOST_BUCKET}) % 3) AS BIGINT) AS delay_ms,
               CAST(({_SQL_HOST_BUCKET}) % {_N_WORKERS} AS BIGINT) AS worker
        FROM hosted
    )
    SELECT doc_id, canonical, host, worker, delay_ms,
           CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) - 1 AS BIGINT)
             AS slot,
           CAST((ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) - 1)
                * delay_ms AS BIGINT) AS scheduled_ms
    FROM policy
    """,
    tags=("crawl", "url", "scheduling", "window"),
)
def crawl_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed crawl politeness: the reference throttles with
    driver-side sleeps (time.sleep(0.3)/(0.2), CrawlData.py:39,136) —
    correct single-process, meaningless on a cluster where 1000
    executors would each sleep independently and still hammer one
    host. The distributed-safe discipline: (1) HOST AFFINITY — every
    URL of a host goes to one worker (md5-bucket of the host), so
    per-host pacing needs no coordination; (2) a per-host fetch SLOT
    (arrival order within host) times each fetch at
    slot * crawl_delay. Synthetic robots diversity: delay is 500 /
    750 / 1000 ms by host hash. Everything is integer window
    arithmetic over the deduped frontier — partition-parallel by
    host, no driver-side loop anywhere.

    Scale: the frontier dedup upstream bounds the rows; the schedule
    is one hash-partitioned window per host — the same shape at 100
    TB, where hosts are the natural skew unit (a giant host just
    gets a long slot sequence on its one worker, which is exactly
    the politeness constraint)."""
    frontier = crawl_url_canonical_dedup(spark, sf_dir).filter(
        F.col("is_dup") == 0
    )
    host = F.regexp_extract("canonical", "^[a-z]+://([^/?#]+)", 1)
    hosted = frontier.select("doc_id", "canonical", host.alias("host"))
    bucket = F.expr(_SQL_HOST_BUCKET)
    policy = hosted.select(
        "doc_id",
        "canonical",
        "host",
        (F.lit(500) + 250 * (bucket % 3)).cast("long").alias("delay_ms"),
        (bucket % _N_WORKERS).cast("long").alias("worker"),
    )
    slot = F.row_number().over(W.partitionBy("host").orderBy("doc_id")) - 1
    return policy.select(
        "doc_id",
        "canonical",
        "host",
        "worker",
        "delay_ms",
        slot.cast("long").alias("slot"),
        (slot * F.col("delay_ms")).cast("long").alias("scheduled_ms"),
    )


# ------------------------------------------ streaming frontier dedup


def run_frontier_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> tuple[DataFrame, int]:
    """The crawl frontier as it actually exists in production: a
    STREAM of raw URLs, replayed as `n_chunks` doc_id-ordered
    micro-batches (`staging.run_chunk_stream`); a foreachBatch stage
    canonicalizes the batch, resolves each URL's keeper against (1) the cross-batch SEEN store — canonical-key ->
    keeper rows persisted from earlier micro-batches — and (2) the
    batch's own first-seen MIN, then appends only NEW keys to the
    store. Returns (per-URL verdicts, n_micro_batches).

    Because chunks are doc_id-ordered, the first batch containing a
    canonical key holds that key's global minimum doc_id — so the
    union of per-batch results is EXACTLY crawl_url_canonical_dedup's
    batch answer, and the streaming form shares its oracle (the
    cross-batch dup verdicts are only reachable through the restored
    seen store, so the oracle equality is a real state-carry check).
    The stream is ordered: the harness pins delivery order and
    probe() asserts it per batch (the semdedup-stream discipline).

    Scale: per micro-batch work is a pure canonicalize map + one
    equi-join against the seen store on the canonical key — the
    store grows with the DISTINCT frontier, is keyed for pruning,
    and in production is the frontier table's upsert surface (the
    foreachBatch body is unchanged under a Kafka source)."""
    import os
    import tempfile

    from bigdata_project_spark.operators.staging import run_chunk_stream

    docs = load(spark, sf_dir, "documents").select("doc_id")
    raw = docs.select("doc_id", _raw_url_col().alias("url"))

    with tempfile.TemporaryDirectory(prefix="frontier_stream_") as work:
        seen_store = os.path.join(work, "seen")
        out_store = os.path.join(work, "out")
        # schema-only seen-store init: (key, keeper_doc)
        raw.limit(0).select(
            F.md5(canonicalize_url(F.col("url"))).alias("key"),
            F.col("doc_id").alias("keeper_doc"),
        ).write.parquet(seen_store)

        max_seen_doc = [-1]  # foreachBatch runs driver-side

        def probe(bdf: DataFrame, _bid: int) -> None:
            canon = bdf.select(
                "doc_id", "url", canonicalize_url(F.col("url")).alias("canonical")
            ).withColumn("key", F.md5("canonical")).persist()
            b_lo, b_hi = canon.agg(F.min("doc_id"), F.max("doc_id")).first()
            if b_lo is not None:
                if int(b_lo) <= max_seen_doc[0]:
                    raise RuntimeError(
                        f"frontier stream delivered out of order: batch min "
                        f"doc_id {b_lo} <= max already seen {max_seen_doc[0]}"
                    )
                max_seen_doc[0] = int(b_hi)
            seen = spark.read.parquet(seen_store)
            batch_min = canon.groupBy("key").agg(
                F.min("doc_id").alias("batch_keeper")
            )
            resolved = (
                canon.join(F.broadcast(batch_min), "key")
                .join(seen.withColumnRenamed("keeper_doc", "stored_keeper"), "key", "left")
                .select(
                    "doc_id",
                    "url",
                    "canonical",
                    "key",
                    F.coalesce("stored_keeper", "batch_keeper").alias("keeper_doc"),
                )
            )
            out = resolved.select(
                "doc_id",
                "url",
                "canonical",
                "keeper_doc",
                (F.col("doc_id") != F.col("keeper_doc")).cast("int").alias("is_dup"),
            )
            out.write.mode("append").parquet(out_store)
            # first-writer-wins upsert: append only the keys this batch
            # introduced (anti-join the store)
            new_keys = batch_min.join(seen, "key", "left_anti").select(
                "key", F.col("batch_keeper").alias("keeper_doc")
            )
            new_keys.write.mode("append").parquet(seen_store)
            canon.unpersist()

        n_batches = run_chunk_stream(raw, "doc_id", n_chunks, probe, work, ordered=True)
        res = barrier(
            spark.read.parquet(out_store).select(
                "doc_id", "url", "canonical", "keeper_doc", "is_dup"
            ),
            eager=True,
        )
    return res, n_batches


@query(
    "stream_url_frontier_dedup",
    oracle=None,  # set below: shares crawl_url_canonical_dedup's oracle
    tags=("streaming", "crawl", "dedup", "url", "foreachBatch", "incremental"),
)
def stream_url_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`crawl_url_canonical_dedup` in its production home: a
    foreachBatch streaming ingest over three doc_id-ordered
    micro-batches with a cross-batch canonical-key seen store (see
    run_frontier_stream). Shares the batch form's oracle because the
    ordered chunked replay provably reassembles the batch answer —
    a cross-batch duplicate's keeper is only recoverable through the
    persisted store, so the equality is a real multi-batch
    state-carry check."""
    res, _ = run_frontier_stream(spark, sf_dir, n_chunks=3)
    return res


from bigdata_project_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["stream_url_frontier_dedup"].oracle = _REG["crawl_url_canonical_dedup"].oracle


# ------------------------------------------------- robots.txt gate

# synthetic per-host robots rules (host, rule_path, allow) — the
# longest-prefix-match semantics of the robots exclusion standard:
# the MOST SPECIFIC (longest) matching rule wins; on a length tie,
# Allow wins. The '/' rule guarantees every URL matches something.
_ROBOTS_RULES: tuple[tuple[str, str, int], ...] = (
    ("gateway.chotot.com", "/ads/private", 0),
    ("gateway.chotot.com", "/ads", 1),
    ("gateway.chotot.com", "/api", 0),
    ("gateway.chotot.com", "/api/public", 1),
    ("gateway.chotot.com", "/", 1),
    ("static.chotot.com", "/img", 0),
    ("static.chotot.com", "/img/thumbs", 1),
    ("static.chotot.com", "/", 1),
)

_ROBOTS_PATH_PREFIXES = ("/ads", "/ads/private", "/img", "/img/thumbs", "/api", "/api/public", "")


def _sql_robots_values() -> str:
    rows = ", ".join(f"('{h}', '{p}', {a})" for h, p, a in _ROBOTS_RULES)
    return f"(VALUES {rows}) AS rules(host, rule_path, allow)"


@query(
    "crawl_robots_gate",
    oracle=f"""
    WITH urls AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'gateway.chotot.com'
                    ELSE 'static.chotot.com' END AS host,
               CASE CAST(doc_id % 7 AS INT)
                    WHEN 0 THEN '/ads' WHEN 1 THEN '/ads/private'
                    WHEN 2 THEN '/img' WHEN 3 THEN '/img/thumbs'
                    WHEN 4 THEN '/api' WHEN 5 THEN '/api/public'
                    ELSE '' END || '/item' || CAST(doc_id AS VARCHAR) AS path
        FROM documents
    ),
    matched AS (
        SELECT u.doc_id, u.host, u.path, rules.rule_path, rules.allow,
               ROW_NUMBER() OVER (
                   PARTITION BY u.doc_id
                   ORDER BY length(rules.rule_path) DESC, rules.allow DESC,
                            rules.rule_path
               ) AS rn
        FROM urls u
        JOIN {_sql_robots_values()}
          ON rules.host = u.host AND starts_with(u.path, rules.rule_path)
    )
    SELECT doc_id, host, path,
           rule_path AS matched_rule,
           CAST(allow AS INT) AS allowed
    FROM matched WHERE rn = 1
    """,
    tags=("crawl", "url", "scalar", "window"),
)
def crawl_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt admission gate — the politeness rule the reference's
    crawler never checks before hammering the API: every frontier URL
    is matched against its host's Allow/Disallow prefix rules with
    the robots-exclusion-standard resolution order (LONGEST matching
    rule wins; Allow wins a length tie). Rules are a tiny broadcast
    table; the match is a BroadcastHashJoin on host with the prefix
    test as a residual, then one per-URL window picks the winning
    rule — no UDF, no per-URL loop.

    Scale: rules tables are kilobytes per host (broadcast); the URL
    side is one scan + map-side match. The synthetic path mix drives
    every resolution case: nested Allow under Disallow (/api/public
    under /api), nested Disallow under Allow (/ads/private under
    /ads), and the '/' catch-all."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    host = F.when(
        F.col("doc_id") % 2 == 0, F.lit("gateway.chotot.com")
    ).otherwise(F.lit("static.chotot.com"))
    seg = F.element_at(
        F.array(*[F.lit(p) for p in _ROBOTS_PATH_PREFIXES]),
        (F.col("doc_id") % 7).cast("int") + 1,
    )
    urls = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(seg, F.lit("/item"), F.col("doc_id").cast("string")).alias("path"),
    )
    rules = F.broadcast(
        spark.createDataFrame(
            list(_ROBOTS_RULES), "host string, rule_path string, allow int"
        )
    )
    matched = urls.join(
        rules.withColumnRenamed("host", "r_host"),
        (F.col("r_host") == F.col("host"))
        & F.col("path").startswith(F.col("rule_path")),
    )
    w = W.partitionBy("doc_id").orderBy(
        F.length("rule_path").desc(), F.col("allow").desc(), "rule_path"
    )
    return (
        matched.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "host",
            "path",
            F.col("rule_path").alias("matched_rule"),
            F.col("allow").cast("int").alias("allowed"),
        )
    )
