"""Frontier kernel: canonicalize -> hash -> membership-test -> dedup.

The hot path of the north rule. Reference semantics being re-expressed:

* seen-check: per-row ``query.filter_by(protocol_id=...).first()``
  (``protocol_io_crawl.py:100``, ``nature_protocol_crawl.py:95``) becomes a
  LEFT ANTI join on ``url_hash`` (J1 in SURVEY.md §2.3): broadcast while
  the seen set is small, behind a cuckoo-filter prefilter at scale.
* first-seen-wins dedup: ``set()`` accumulation in document order
  (``nature_protocol_crawl.py:135-140``, A4) becomes a row_number()=1 window
  over an explicit total-order key — Spark is set-oriented, so ordering
  must be carried as data.
* blocklist: ``is_download``'s substring rules (``url_util.py:30-107``)
  become a broadcast rules join.

Scale notes (10^10 URLs): candidates and ``seen`` are both bucketed by
``pmod(url_hash, n_buckets)``; with a maintained cuckoo store the probe
runs inside the canonicalize kernel and the anti-join shuffles only the
maybe-seen survivors (the store's ~0.02% false positives plus the true
re-discoveries). AQE handles residual skew; the store keeps one table
file per bucket (see operators.cuckoo docstring).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from literature_crawler_spark.functions import hashing, urls

DEFAULT_N_BUCKETS = 64


def _arrow_canon_runner(
    url_col: str,
    base_host_col: str | None,
    out_cols: list[str] | None = None,
    probe_store=None,
):
    """mapInPandas kernel: canonicalize a whole Arrow batch with
    pyarrow.compute RE2 kernels. Semantics mirror functions/urls.py
    canonicalize/host_of exactly (equality is property-tested).
    ``out_cols``: input columns to return (None = all) — see
    canonicalize_candidates on pruning through the UDF boundary.
    ``probe_store``: a BucketedCuckooStore — when given, the kernel
    ALSO emits ``url_hash`` (Spark-exact xxhash64 of canon_url, computed
    vectorized in numpy: functions/npxxhash.py) and ``_maybe_seen``
    (``probe_store.probe_np``) so the whole
    canonicalize→hash→membership-test chain costs ONE Arrow crossing —
    the second crossing (a probe pandas_udf) was the local[32] ceiling
    (BENCH.md: the per-JVM Arrow lane is flat at ~4-5M rows/s)."""

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        scheme_host = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]"

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            u = pc.utf8_trim_whitespace(pa.array(pdf[url_col], type=pa.string()))
            https = pa.array(["https:"] * n)
            u = pc.if_else(
                pc.starts_with(u, pattern="//"),
                pc.binary_join_element_wise(https, u, ""),
                u,
            )
            if base_host_col is not None:
                base = pa.array(pdf[base_host_col], type=pa.string())
                slash = pc.if_else(
                    pc.starts_with(u, pattern="/"), pa.array([""] * n), pa.array(["/"] * n)
                )
                resolved = pc.binary_join_element_wise(
                    pa.array(["https://"] * n), base, slash, u, ""
                )
                u = pc.if_else(pc.match_substring_regex(u, scheme_host), u, resolved)
            # strip query+fragment (passthrough form), dissect scheme/host/path
            stripped = pc.replace_substring_regex(u, pattern=r"(?s)[?#].*$", replacement="")
            scheme = pc.utf8_lower(
                pc.replace_substring_regex(
                    u, pattern=r"(?s)^([A-Za-z][A-Za-z0-9+.\-]*)://.*$", replacement=r"\1"
                )
            )
            rest = pc.replace_substring_regex(
                u, pattern=r"^[A-Za-z][A-Za-z0-9+.\-]*://", replacement=""
            )
            had_scheme = pc.not_equal(rest, u)
            hostport = pc.replace_substring_regex(rest, pattern=r"(?s)[/?#].*$", replacement="")
            host = pc.replace_substring_regex(
                pc.utf8_lower(hostport), pattern=r":(80|443)$", replacement=""
            )
            path = pc.replace_substring_regex(rest, pattern=r"(?s)^[^/?#]*", replacement="")
            path = pc.replace_substring_regex(path, pattern=r"(?s)[?#].*$", replacement="")
            path = pc.replace_substring_regex(path, pattern=r"/+$", replacement="")
            path = pc.if_else(pc.equal(path, ""), pa.array(["/"] * n), path)
            valid = pc.and_kleene(had_scheme, pc.not_equal(host, ""))
            canon = pc.if_else(
                valid,
                pc.binary_join_element_wise(scheme, pa.array(["://"] * n), host, path, ""),
                stripped,
            )
            host_out = pc.if_else(valid, host, pa.array([""] * n))
            out = pdf.copy() if out_cols is None else pdf[out_cols].copy()
            out["canon_url"] = canon.to_pandas()
            out["host"] = host_out.to_pandas()
            if probe_store is not None:
                from literature_crawler_spark.functions import npxxhash

                hashes = npxxhash.xxhash64_arrow(canon)
                out["url_hash"] = hashes
                out["_maybe_seen"] = probe_store.probe_np(hashes)
            yield out

    return run


def canonicalize_candidates(
    links: DataFrame,
    url_col: str = "url",
    base_host_col: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    impl: str = "arrow",
    output_cols: list[str] | None = None,
    probe_store=None,
) -> DataFrame:
    """Normalize raw candidate URLs: resolve relative -> canonicalize ->
    hash -> bucket -> host.

    ``impl='arrow'`` (default): the canonical form and host come out of one
    ``mapInPandas`` pass of pyarrow.compute RE2 kernels — measured 5.1x
    faster than the Catalyst-expression path on the 4M-URL frontier bench
    (C++ regex kernels, each evaluated exactly ONCE, no predicate-pushdown
    re-inlining; see the plan-shape note below). Hashing/bucketing stay
    JVM-side expressions either way. ``impl='expr'`` keeps the pure
    whole-stage-codegen path; both are property-tested equal.

    ``output_cols``: input columns to carry through (default all).
    Catalyst cannot prune columns THROUGH the opaque mapInPandas boundary,
    so a caller that no longer needs the raw ``url`` downstream should
    pass e.g. ``output_cols=['seq']`` — dropping the raw URL halves the
    Arrow return payload on the frontier hot path.
    """
    if impl == "arrow":
        fields = links.schema.fields
        if output_cols is not None:
            keep = set(output_cols) | {url_col} | (
                {base_host_col} if base_host_col else set()
            )
            links = links.select(*[f.name for f in fields if f.name in keep])
            out_fields = [
                f for f in fields if f.name in set(output_cols)
            ]
        else:
            out_fields = list(fields)
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in out_fields
        )
        sep = ", " if schema else ""
        extra = "" if probe_store is None else ", url_hash bigint, _maybe_seen boolean"
        mapped = links.mapInPandas(
            _arrow_canon_runner(
                url_col, base_host_col, [f.name for f in out_fields], probe_store
            ),
            f"{schema}{sep}canon_url string, host string{extra}",
        )
        out = mapped.filter(F.col("host") != "")
        if probe_store is None:
            out = out.withColumn("url_hash", hashing.url_hash(F.col("canon_url")))
        return out.withColumn(
            "bucket", hashing.bucket_of(F.col("url_hash"), n_buckets)
        )
    if probe_store is not None:  # real raise: -O must not silently unfuse
        raise ValueError("probe_store fusion requires impl='arrow'")
    u = F.col(url_col)
    if base_host_col is not None:
        # trim BEFORE relative-resolution to match the Arrow kernel (which
        # trims first): ' /a' must resolve as '/a', not as 'https://base/ /a'
        u = urls.resolve_relative(F.trim(u), F.col(base_host_col))
    # Plan-shape note: Catalyst pushes the host-validity filter below the
    # projection and inlines the canonicalize tree into the predicate, so
    # the tree is evaluated ~2-3x per row. Blocking the pushdown (tested:
    # nondeterministic barrier columns, rand() guards) does not survive
    # column pruning, and bigger-but-locally-cheaper expression variants
    # explode the inlined plan past the JIT method limit (190 regex nodes,
    # interpreted codegen, 6x slower). The robust optimum is the smallest
    # possible expression tree and accepting the one inline — see
    # functions/urls.py host_of docstring for the measurements.
    out = (
        links.withColumn("canon_url", urls.canonicalize(u))
        .withColumn("host", urls.host_of(F.col("canon_url")))
        .filter(F.col("host") != "")
        .withColumn("url_hash", hashing.url_hash(F.col("canon_url")))
        .withColumn("bucket", hashing.bucket_of(F.col("url_hash"), n_buckets))
    )
    return out


# Matches the scheme://host prefix of a canonical URL; appended path
# patterns then match from the first path character (RFC 9309 matches
# against the path, not the full URI).
_SCHEME_HOST_PREFIX = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"

def robots_rule_regex(pattern) -> F.Column:
    """Translate a robots rule pattern into an anchored RE2-safe regex
    (RFC 9309 §2.2.3): ``*`` matches any run of characters, a trailing
    ``$`` anchors the end, everything else is literal prefix match on the
    path. Patterns NOT starting with ``/`` are the reference's blocklist
    form (``url_util.py:30-107`` substring-anywhere rules, e.g.
    ``doubleclick``) and translate to an unanchored substring regex over
    the whole canonical URL."""
    esc = F.regexp_replace(pattern, r"([\^\$\.\|\?\*\+\(\)\[\]\{\}\\])", r"\\$1")
    wild = F.regexp_replace(esc, r"\\\*", ".*")
    wild = F.regexp_replace(wild, r"\\\$$", r"\$")
    return F.when(
        pattern.startswith("/"), F.concat(F.lit(_SCHEME_HOST_PREFIX), wild)
    ).otherwise(wild)


class RobotsRules(NamedTuple):
    """Robots rules prepared for matching (``prepare_robots``): per-host
    rule arrays and the one-row array of global ``'*'`` rules."""

    host_rules: DataFrame
    global_rules: DataFrame

    def persist(self) -> "RobotsRules":
        return RobotsRules(self.host_rules.persist(), self.global_rules.persist())


def prepare_robots(robots: DataFrame) -> RobotsRules:
    """Translate (host, pattern, allow) rule rows into the arrays
    ``mark_robots`` matches against: each pattern becomes a struct of its
    anchored regex, its length and its verdict, grouped into one array per
    host plus a single row holding every global ``'*'`` rule. The result
    depends only on the rules, so a caller that applies the same rules
    many times (the crawl engine, every wave) prepares and persists it
    once."""
    rules = robots.select(
        "host",
        F.struct(
            robots_rule_regex(F.col("pattern")).alias("rx"),
            F.length("pattern").alias("ln"),
            F.col("allow").alias("allow"),
        ).alias("r"),
    )
    host_rules = rules.filter(F.col("host") != "*").groupBy("host").agg(
        F.collect_list("r").alias("_h_rules")
    )
    global_rules = rules.filter(F.col("host") == "*").agg(
        F.collect_list("r").alias("_g_rules")
    )
    return RobotsRules(host_rules, global_rules)


def apply_robots(candidates: DataFrame, robots: DataFrame | RobotsRules) -> DataFrame:
    """Keep candidates the robots rules allow, per RFC 9309 precedence:
    among all rules whose pattern matches the URL (host-specific rules of
    the candidate's host + global ``'*'`` rules), the LONGEST pattern wins;
    on a length tie Allow beats Disallow; no match means allowed.
    ``robots`` is the raw rule table or its ``prepare_robots`` form.

    Scale shape: rules are grouped per host into an array column and
    broadcast, so host-specific rules reach candidates through a broadcast
    hash EQUI-join on ``host`` — at a 10^5-rule robots cache the per-URL
    work is only that host's ~50 rules plus the tiny global set, not a
    nested-loop scan of every rule (the round-1 plan was a
    BroadcastNestedLoopJoin over the full rule table). The global ``'*'``
    rules collapse to ONE broadcast row (a single array), so the only NLJ
    left is a 1-row cross join. The candidates side never shuffles.
    """
    return (
        mark_robots(candidates, robots, "_robots_allowed")
        .filter(F.col("_robots_allowed"))
        .drop("_robots_allowed")
    )


def mark_robots(
    candidates: DataFrame,
    robots: DataFrame | RobotsRules,
    flag_col: str = "robots_allowed",
) -> DataFrame:
    """``apply_robots`` as a MARKING pass: same RFC 9309 precedence and
    broadcast plan shape, but every candidate row survives with a boolean
    ``flag_col`` instead of being filtered (``apply_robots`` itself is
    this plus the filter). One scan then serves both the pre-filter
    counts and the post-filter aggregate (conditional agg on the flag) —
    the merged crawl_canonicalize_counts entry's shape, and generally
    cheaper than running the filter variant as a second pass over the
    same candidates."""
    rules = robots if isinstance(robots, RobotsRules) else prepare_robots(robots)
    out = candidates.join(F.broadcast(rules.host_rules), "host", "left").crossJoin(
        F.broadcast(rules.global_rules)
    )
    empty = F.slice(F.col("_g_rules"), 1, 0)
    all_rules = F.concat(F.coalesce(F.col("_h_rules"), empty), F.col("_g_rules"))
    url = F.col("canon_url")
    matched = F.filter(all_rules, lambda r: F.regexp_like(url, r["rx"]))
    zero = F.struct(F.lit(-1).alias("ln"), F.lit(True).alias("allow"))
    best = F.aggregate(
        matched,
        zero,
        lambda acc, r: F.when(
            (r["ln"] > acc["ln"]) | ((r["ln"] == acc["ln"]) & r["allow"]),
            F.struct(r["ln"].alias("ln"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    return (
        out.withColumn(flag_col, best["allow"])
        .drop("_h_rules", "_g_rules")
    )


def first_seen_dedup(candidates: DataFrame, order_cols: list[str]) -> DataFrame:
    """Keep the first occurrence of each canon_url under the given total
    order (reference A4 first-seen semantics)."""
    w = Window.partitionBy("url_hash").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# Below this many seen keys a broadcast LEFT ANTI join (no shuffle of the
# candidate side, no Python) is the whole seen test; above it the seen
# keys no longer fit a broadcast (8 B/key -> ~40 MB) and the anti-join
# shuffles. CrawlEngine(use_bloom='auto') switches to a maintained cuckoo
# store here.
BROADCAST_SEEN_MAX = 5_000_000


def dedup_against_seen(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    expected_seen: int | None = None,
) -> DataFrame:
    """Candidates not yet in the seen set. The anti-join is exact, so the
    path taken changes the cost, never the rows; it follows from the
    inputs:

    * candidates carrying ``_maybe_seen`` (the fused cuckoo probe of
      ``canonicalize_candidates(probe_store=...)``) are split on it:
      definitely-new rows skip the join, and only the maybe-seen rows take
      the exact LEFT ANTI join. (The reference does one DB point-read per
      URL instead.)
    * otherwise a broadcast anti-join while the seen set has at most
      ``BROADCAST_SEEN_MAX`` keys, and a plain (shuffle) anti-join above.

    ``expected_seen`` is the seen set's key count when the caller knows
    it (the engine reads it from the seen manifest); None counts it.
    ``spark`` is unused and kept for the callers' positional signature.

    The split fences the probed candidates with an eager
    ``localCheckpoint``, so both union branches read one materialization.
    Unlike a ``persist()``, the fence needs no unpersist: its blocks are
    freed once the returned DataFrame is garbage-collected, so a long wave
    loop strands nothing.
    """
    premarked = "_maybe_seen" in candidates.columns
    unmarked = candidates.drop("_maybe_seen") if premarked else candidates
    if seen is None:
        return unmarked
    seen_keys = seen.select("url_hash")
    n = expected_seen if expected_seen is not None else seen_keys.count()
    if n == 0:
        return unmarked
    if not premarked:
        if n <= BROADCAST_SEEN_MAX:
            seen_keys = F.broadcast(seen_keys)
        return candidates.join(seen_keys, "url_hash", "left_anti")
    # fence the probed candidates: both branches of the union scan this
    # one materialization instead of re-running the upstream pipeline
    # (canonicalize + probe) twice
    maybe = candidates.localCheckpoint(eager=True)
    definitely_new = maybe.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    needs_check = maybe.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    checked = needs_check.join(seen_keys, "url_hash", "left_anti")
    return definitely_new.unionByName(checked)
