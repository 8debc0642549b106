"""Frontier operators — the UrlStore re-expressed as a DataFrame.

The reference's UrlStore is a host-keyed dict of path deques with
visited flags and per-host state (/root/reference/courlan/urlstore.py).
The engine's frontier is a table

    frontier(host string, path string, visited boolean,
             seq long, priority int, host_ts timestamp)

partitioned/bucketed by host at scale.  Deque order becomes the
explicit (priority desc, seq asc) sort; per-host aggregates (count,
total, state) are derived, not stored.  All membership probes are
semi/anti joins — the distributed form of the reference's
sort-then-probe (_search_urls, urlstore.py:277-295).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.url_udfs import host_path_udf, make_buffer_url_udf


def with_input_ordinal(df: DataFrame, col: str = "_ordinal") -> DataFrame:
    """Compact, order-preserving input ordinal (0..n-1): partition
    sizes are counted once (a cheap scan-only job), then each row's
    ordinal = its partition's global offset + its position within the
    partition.  This reproduces the reference's list index exactly for
    any order-stable source (createDataFrame, file reads) at ANY
    partition count — unlike monotonically_increasing_id, whose
    partition-id component (multiples of 2^33) swamps any practical
    additive offset and makes cross-batch ordering collide.

    Not meaningful after a shuffle (repartition/join reorder rows);
    arrival order is undefined there — pass an explicit order column
    to ingest_urls instead.

    Determinism (round-3 ADVICE fix): the (_pid, _mid) tags are
    MATERIALIZED once via an eager localCheckpoint before anything
    reads them, so the size map and the ordinals come from one
    evaluation — an uncached recompute with different splits can no
    longer mis-number seq — and the window sorts a stored column, not
    a re-evaluated monotonically_increasing_id under the exchange
    (per-map-block fetch order is not an API guarantee)."""
    tagged = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    sizes = {
        row["_pid"]: row["cnt"]
        for row in tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy("_mid")
    return tagged.withColumn(
        col, (omap[F.col("_pid")] + F.row_number().over(w) - 1).cast("long")
    ).drop("_pid", "_mid")


def ingest_urls(
    urls: DataFrame,
    url_col: str = "url",
    strict: bool = False,
    language: str | None = None,
    trailing_slash: bool = True,
    visited: bool = False,
    priority: int = 0,
    seq_offset: int = 0,
    appendleft: bool = False,
    order_col: str | None = None,
) -> DataFrame:
    """Validate/normalize raw URLs into frontier rows (the _buffer_urls
    analog, urlstore.py:171-203): invalid and wrong-language rows drop,
    the rest split into (host, path) with insertion-order seq.

    seq = input ordinal + ``seq_offset``: the ordinal comes from
    ``order_col`` when given (an explicit arrival-order column — e.g. a
    line number or log offset — deterministic under any partitioning
    and free), else from :func:`with_input_ordinal` (compact 0..n-1 in
    source order, costs one scan job).  Callers separating batches via
    ``seq_offset`` get exact append semantics: every seq of batch k+1
    sorts after batch k as long as offsets exceed batch sizes.

    ``appendleft=True`` mirrors the reference's deque.extendleft
    (urlstore.py:256-258): the batch is prioritized AND its internal
    order reverses — realized here as priority=1 with negated seq, so
    the deque order (priority desc, seq asc) reproduces left-appends
    exactly.

    NB: this runs the *buffer* validation (validate+lang+normalize),
    not the full check_url — matching the reference, which applies the
    content filters in filter_links before the store, never inside it."""
    if order_col is None:
        urls = with_input_ordinal(urls, "_ordinal")
        ordinal = F.col("_ordinal")
    else:
        ordinal = F.col(order_col).cast("long")
    buffer_udf = make_buffer_url_udf(
        strict=strict, language=language, trailing_slash=trailing_slash
    )
    checked = (
        urls.withColumn("_norm", buffer_udf(F.col(url_col)))
        .where(F.col("_norm").isNotNull())
        .withColumn("_hp", host_path_udf(F.col("_norm")))
        .where(F.col("_hp.host").isNotNull())
    )
    seq = ordinal + F.lit(seq_offset)
    if appendleft:
        seq = -seq
        priority = max(priority, 1)
    return checked.select(
        F.col("_hp.host").alias("host"),
        F.col("_hp.path").alias("path"),
        F.lit(visited).alias("visited"),
        seq.alias("seq"),
        F.lit(priority).alias("priority"),
    )


def merge_scheme_variants(frontier: DataFrame) -> DataFrame:
    """http://X and https://X are one host: https absorbs http
    (urlstore.py:226-238), applied set-wide in one pass: a host keeps
    the https scheme iff any row for the scheme-less key saw https.

    Shape: ONE hash-partition exchange on the scheme-less key (an
    unordered window max), vs the former groupBy+join which reshuffled
    the row stream a second time for the sort-merge join once the
    distinct-host side outgrows broadcast — at web scale the host
    dimension is ~10⁸ rows, never broadcastable.  Downstream per-host
    stages (host aggregates, scheduling) reuse the same partitioning."""
    keyed = frontier.withColumn(
        "_hostkey", F.regexp_replace("host", r"^https?://", "")
    )
    w = Window.partitionBy("_hostkey")
    return (
        keyed.withColumn(
            "_has_https", F.max(F.col("host").startswith("https")).over(w)
        )
        .withColumn(
            "host",
            F.concat(
                F.when(F.col("_has_https"), F.lit("https://")).otherwise(
                    F.lit("http://")
                ),
                F.col("_hostkey"),
            ),
        )
        .drop("_hostkey", "_has_https")
    )


def _canon_path():
    # built lazily: Column construction needs an active SparkContext
    return F.when(F.col("path") == "/", F.lit("/")).otherwise(
        F.regexp_replace("path", r"/+$", "")
    )


def exact_path_dedup(batch: DataFrame) -> DataFrame:
    """Within-batch dedup: exact (host, path) only, first occurrence
    wins — the reference's dict.fromkeys(data) in _buffer_urls
    (urlstore.py:175).  Trailing-slash *variants* survive inside one
    batch; the variant test only runs against the existing store."""
    w = Window.partitionBy("host", "path").orderBy(
        F.col("priority").desc(), F.col("seq").asc()
    )
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_new_urls(frontier: DataFrame, batch: DataFrame) -> DataFrame:
    """Cross-batch insert (urlstore.py:246-258): a batch row is new iff
    no ±trailing-slash variant of its path is already stored for the
    host (is_known_link's slash variants collapse onto one canonical
    key) — a left-anti join, then union.  Iceberg MERGE at scale."""
    batch = exact_path_dedup(batch)
    known = frontier.select(
        "host", _canon_path().alias("_canon")
    ).distinct()
    fresh = (
        batch.withColumn("_canon", _canon_path())
        .join(known, ["host", "_canon"], "left_anti")
        .drop("_canon")
    )
    # allowMissingColumns: the store may carry lifecycle columns the
    # batch does not (host_ts stamped by mark_visited, busted markers
    # from discard_hosts) — new rows take nulls there
    return frontier.unionByName(fresh, allowMissingColumns=True)


def _busted_col(frontier: DataFrame):
    "Optional `busted` marker column (present after discard_hosts)."
    if "busted" in frontier.columns:
        return F.coalesce(F.col("busted"), F.lit(False))
    return F.lit(False)


def host_aggregates(frontier: DataFrame) -> DataFrame:
    """Derived DomainEntry aggregates (urlstore.py:84-95,270-273):
    total paths, visited count, and state (OPEN / ALL_VISITED /
    BUSTED).  Busted hosts carry one path-less sentinel row, so their
    total and visited_count read 0 — matching the reference, where
    discard() replaces the entry with an empty BUSTED DomainEntry."""
    real = F.col("path").isNotNull()
    return frontier.groupBy("host").agg(
        F.sum(real.cast("long")).alias("total"),
        F.sum((F.col("visited") & real).cast("long")).alias("visited_count"),
        F.when(F.max(_busted_col(frontier).cast("int")) == 1, F.lit("BUSTED"))
        .when(F.bool_and("visited"), F.lit("ALL_VISITED"))
        .otherwise(F.lit("OPEN"))
        .alias("state"),
    )


def discard_hosts(frontier: DataFrame, hosts: list[str] | DataFrame) -> DataFrame:
    """UrlStore.discard analog (urlstore.py:338-345): declare hosts
    void — their URL rows are pruned and replaced by a single BUSTED
    sentinel row (path NULL, visited true), so the host stays known
    (is_exhausted_domain: state != OPEN) but never schedules again."""
    spark = frontier.sparkSession
    if isinstance(hosts, list):
        hosts_df = spark.createDataFrame([(h,) for h in hosts], "host string")
    else:
        hosts_df = hosts.select("host")
    hosts_df = hosts_df.distinct()
    if "busted" not in frontier.columns:
        frontier = frontier.withColumn("busted", F.lit(False))
    kept = frontier.join(F.broadcast(hosts_df), "host", "left_anti")
    sentinels = hosts_df.select(
        "host",
        F.lit(None).cast("string").alias("path"),
        F.lit(True).alias("visited"),
        F.lit(0).cast("long").alias("seq"),
        F.lit(0).alias("priority"),
        F.lit(True).alias("busted"),
    )
    for col in frontier.columns:
        if col not in sentinels.columns:
            sentinels = sentinels.withColumn(
                col, F.lit(None).cast(frontier.schema[col].dataType)
            )
    return kept.unionByName(sentinels.select(*frontier.columns))


def reset_frontier(spark) -> DataFrame:
    "UrlStore.reset analog (urlstore.py:347-352): an empty frontier."
    return spark.createDataFrame(
        [], "host string, path string, visited boolean, seq long, priority int"
    )


# --- UrlStore convenience queries (urlstore.py:356-396,532-556) ------------


def known_domains(frontier: DataFrame) -> DataFrame:
    "get_known_domains analog: every known host (incl. busted)."
    return frontier.select("host").distinct()


def unvisited_domains(frontier: DataFrame) -> DataFrame:
    "get_unvisited_domains analog: hosts whose state is OPEN."
    return host_aggregates(frontier).where(F.col("state") == "OPEN").select("host")


def unvisited_websites_number(frontier: DataFrame) -> int:
    "unvisited_websites_number analog."
    return unvisited_domains(frontier).count()


def total_url_number(frontier: DataFrame) -> int:
    "total_url_number analog: all stored paths (sentinels excluded)."
    row = frontier.agg(
        F.sum(F.col("path").isNotNull().cast("long")).alias("n")
    ).first()
    return int(row["n"] or 0)


def is_exhausted_domain(frontier: DataFrame, host: str) -> bool:
    """is_exhausted_domain analog (urlstore.py:366-371): True when the
    host is known and its state is not OPEN; False for unknown hosts
    (the reference returns False rather than raising)."""
    row = (
        host_aggregates(frontier.where(F.col("host") == host))
        .select("state")
        .first()
    )
    return bool(row is not None and row["state"] != "OPEN")


def find_known_urls(frontier: DataFrame, host: str) -> DataFrame:
    "find_known_urls analog: full URLs stored for one host."
    return (
        frontier.where((F.col("host") == host) & F.col("path").isNotNull())
        .select(F.concat("host", "path").alias("url"))
        .orderBy("url")
    )


def find_unvisited_urls(frontier: DataFrame, host: str) -> DataFrame:
    "find_unvisited_urls analog."
    return (
        frontier.where(
            (F.col("host") == host) & F.col("path").isNotNull() & ~F.col("visited")
        )
        .select(F.concat("host", "path").alias("url"))
        .orderBy("url")
    )


def dump_urls(frontier: DataFrame) -> DataFrame:
    "dump_urls analog: every stored URL (host + path), sorted."
    return (
        frontier.where(F.col("path").isNotNull())
        .select(F.concat("host", "path").alias("url"))
        .orderBy("url")
    )


def all_visited_counts(frontier: DataFrame) -> DataFrame:
    "get_all_counts analog: per-host visited (downloaded) counts."
    return frontier.groupBy("host").agg(
        F.sum((F.col("visited") & F.col("path").isNotNull()).cast("long")).alias(
            "count"
        )
    )


def next_urls(frontier: DataFrame, per_host: int = 1) -> DataFrame:
    """get_url analog (urlstore.py:409-430): the first `per_host`
    unvisited paths per host in deque order (priority desc, seq asc)."""
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("seq").asc())
    return (
        frontier.where(~F.col("visited"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= per_host)
        .select("host", "path", F.concat("host", "path").alias("url"), "rn")
    )


def download_schedule(
    frontier: DataFrame,
    max_urls: int = 100,
    time_limit: float = 10.0,
    crawl_delays: DataFrame | None = None,
) -> DataFrame:
    """establish_download_schedule analog (urlstore.py:455-505):
    per-host quota = max_urls // open_hosts (floor, min 1); the i-th
    pick of a host is scheduled i*delay seconds out; global order by
    schedule time.

    ``crawl_delays`` is an optional small table
    ``(host string, crawl_delay double)`` from parsed robots.txt rules
    (get_crawl_delay analog, urlstore.py:524-530): hosts present use
    their own delay, others fall back to ``time_limit``.  It is
    broadcast — robots tables are tiny relative to the frontier."""
    open_hosts = frontier.where(~F.col("visited")).select("host").distinct()
    n_open = open_hosts.count()
    if n_open == 0:
        return frontier.sparkSession.createDataFrame(
            [], "host string, url string, schedule_secs double"
        )
    per_host = max(max_urls // n_open, 1)

    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("seq").asc())
    picks = (
        frontier.where(~F.col("visited"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= per_host)
    )
    if crawl_delays is not None:
        picks = picks.join(
            F.broadcast(crawl_delays.select("host", "crawl_delay")), "host", "left"
        ).withColumn("_delay", F.coalesce("crawl_delay", F.lit(time_limit)))
    else:
        picks = picks.withColumn("_delay", F.lit(time_limit))
    return (
        picks.withColumn(
            "schedule_secs", (F.col("rn") - F.lit(1)).cast("double") * F.col("_delay")
        )
        .select(
            "host",
            F.concat("host", "path").alias("url"),
            "schedule_secs",
        )
        .orderBy("schedule_secs", "host", "url")
        .limit(max_urls)
    )


def get_download_urls(
    frontier: DataFrame,
    time_limit: float = 10.0,
    max_urls: int = 10000,
    now_ts=None,
) -> DataFrame:
    """Rate-limited pull (get_download_urls analog, urlstore.py:432-453):
    one URL per host whose last contact (`host_ts`, nullable column) is
    older than `time_limit` seconds, capped at `max_urls` globally.
    Deterministic global order (host) replaces dict order."""
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("seq").asc())
    now_expr = F.lit(now_ts).cast("timestamp") if now_ts is not None else F.current_timestamp()
    eligible = frontier.where(~F.col("visited"))
    if "host_ts" in frontier.columns:
        eligible = eligible.where(
            F.col("host_ts").isNull()
            | (now_expr.cast("double") - F.col("host_ts").cast("double") > time_limit)
        )
    return (
        eligible.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("host", F.concat("host", "path").alias("url"))
        .orderBy("host")
        .limit(max_urls)
    )


def mark_visited(frontier: DataFrame, picks: DataFrame, visit_ts=None) -> DataFrame:
    """Flag (host, path) rows as visited — the batch analog of
    get_url's in-place mutation (urlstore.py:417-424).  At scale this
    is an Iceberg MERGE; here it is a broadcast-friendly left join on
    the (small) pick set.

    Mirroring the reference, the pulled host's contact timestamp is
    stamped too (urlstore.py:419-424 stores timestamp=datetime.now()
    on every pull): every row of a host with a pick in ``picks`` gets
    ``host_ts = visit_ts`` (default: current timestamp), closing the
    get_download_urls rate-limit loop."""
    flags = picks.select("host", "path").distinct().withColumn("_hit", F.lit(True))
    ts = (
        F.lit(visit_ts).cast("timestamp")
        if visit_ts is not None
        else F.current_timestamp()
    )
    touched = picks.select("host").distinct().withColumn("_touched", F.lit(True))
    out = (
        frontier.join(flags, ["host", "path"], "left")
        .withColumn("visited", F.col("visited") | F.coalesce("_hit", F.lit(False)))
        .drop("_hit")
        .join(F.broadcast(touched), "host", "left")
    )
    prev_ts = F.col("host_ts") if "host_ts" in frontier.columns else F.lit(None).cast(
        "timestamp"
    )
    return (
        out.withColumn(
            "host_ts", F.when(F.coalesce("_touched", F.lit(False)), ts).otherwise(prev_ts)
        )
        .drop("_touched")
    )


def is_done(frontier: DataFrame) -> bool:
    "True when every host is exhausted (done test, urlstore.py:213-216)."
    row = frontier.agg(F.bool_and("visited").alias("all_visited")).first()
    return bool(row["all_visited"]) if row["all_visited"] is not None else True


def download_threshold_reached(frontier: DataFrame, threshold: float) -> bool:
    "any(host download count >= threshold) (urlstore.py:542-544)."
    counts = frontier.where(F.col("visited")).groupBy("host").agg(
        F.count("*").alias("count")
    )
    row = counts.agg(F.max("count").alias("m")).first()
    return bool(row["m"] is not None and row["m"] >= threshold)


def save_frontier(frontier: DataFrame, path: str) -> None:
    """Persist the frontier as a snapshot (UrlStore.write analog,
    urlstore.py:573-583; Iceberg `writeTo` seam at scale)."""
    from ..sources.tables import write_snapshot

    write_snapshot(frontier, path)


def load_frontier(spark, path: str) -> DataFrame:
    "Restore a frontier snapshot (load_store analog)."
    from ..sources.tables import read_snapshot

    return read_snapshot(spark, path)


def _probe_host_path(probe: DataFrame, url_col: str) -> DataFrame:
    return (
        probe.withColumn("_hp", host_path_udf(F.col(url_col)))
        .where(F.col("_hp.host").isNotNull())
        .select(
            F.col(url_col).alias("url"),
            F.col("_hp.host").alias("host"),
            F.col("_hp.path").alias("path"),
        )
    )


def filter_unknown_urls(
    frontier: DataFrame, probe: DataFrame, url_col: str = "url"
) -> DataFrame:
    """filter_unknown_urls analog (urlstore.py:389-391): probe URLs not
    present in the frontier — a left-anti join on (host, path)."""
    probes = _probe_host_path(probe, url_col)
    return probes.join(
        frontier.select("host", "path"), ["host", "path"], "left_anti"
    ).select("url")


def filter_unvisited_urls(
    frontier: DataFrame, probe: DataFrame, url_col: str = "url"
) -> DataFrame:
    """filter_unvisited_urls analog (urlstore.py:393-395): probe URLs
    that are not stored-and-visited — anti join against visited rows."""
    probes = _probe_host_path(probe, url_col)
    visited = frontier.where(F.col("visited")).select("host", "path")
    return probes.join(visited, ["host", "path"], "left_anti").select("url")
