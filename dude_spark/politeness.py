"""Robots.txt gate + per-host crawl-delay budgeting (P2/P3, SURVEY §2.2).

The reference re-downloads and re-parses robots.txt for **every URL**
(``dude/base.py:378-391`` — TODO at ``:382`` admits it) and serializes all
fetches with ``time.sleep(crawl_delay)`` (``:372``). The engine replaces
both with set operations:

- robots rules live in a per-host dimension table, broadcast-joined to the
  frontier; a vectorized pandas UDF evaluates ``urllib.robotparser``
  semantics per (rules, path) batch with a per-host parser cache. A missing
  robots row ⇒ allow-all, delay 0 (reference fail-open, ``base.py:387-388``).
- crawl-delay becomes a per-round **fetch budget**: within one crawl round of
  nominal duration ``round_seconds``, a host with ``Crawl-Delay: d`` may be
  fetched ``floor(round_seconds / d)`` times (unlimited when d=0). Rows are
  ranked per host in FIFO order ``(depth, seq)`` and ranked rows beyond the
  budget stay in the frontier for the next round. Equivalence to the
  reference: same fetched *set* and same per-host relative order (SURVEY
  §7.3).

Skew note (north_rule "salted, host-bucketed repartitioning"): ranking
partitions by host; a hot host concentrates its frontier rows in one task.
So only hosts that can be over budget pay the full-row window:
``budget_rank`` first counts pending rows per host and ranks only the hosts
past their budget, and ``fast_budget_rank`` ranks only the delay-carrying
hosts the driver already knows. Every other host passes through unranked.
"""

from __future__ import annotations

import logging
import re
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .session import worker_setup

ROBOTS_USER_AGENT = "dude"  # hardcoded in the reference (base.py:381)


def parse_robots_txt(txt: Optional[str]):
    """One host's robots.txt → (crawl_delay, [{"path","allow"}...]) — the
    per-host kernel shared by the distributed pandas-UDF pass
    (:func:`compile_robots`) and the driver-side small-dim fast path
    (:func:`compile_robots_rows`); one implementation, no semantic drift.
    The decision list is exactly ``urllib.robotparser``'s: entry applying to
    our agent (else the default entry), rule lines in file order."""
    from urllib.robotparser import RobotFileParser

    p = RobotFileParser()
    p.parse((txt or "").splitlines())
    delay = int(p.crawl_delay(ROBOTS_USER_AGENT) or 0)
    rules = []
    entry = None
    for e in p.entries:
        if e.applies_to(ROBOTS_USER_AGENT):
            entry = e
            break
    if entry is None:
        entry = p.default_entry
    if entry is not None:
        for line in entry.rulelines:
            rules.append({"path": line.path, "allow": bool(line.allowance)})
    return delay, rules


def compile_robots_rows(raw_rows) -> list:
    """Driver-side compile of a robots dim of ≤ :data:`LOCAL_ROBOTS_MAX`
    hosts (already ``take``-bounded): parsing ~dozens of 3-line files is
    microseconds of driver CPU, while routing them through a pandas-UDF
    Spark job costs at least one job — pure serial floor on every crawl."""
    out = []
    for r in raw_rows:
        delay, rules = parse_robots_txt(r["robots_txt"])
        out.append({"host": r["host"], "crawl_delay": delay, "rules": rules})
    return out


def compile_robots(robots: DataFrame) -> DataFrame:
    """Parse each host's robots.txt **once** into rule arrays.

    The reference re-downloads and re-parses robots.txt per URL
    (``base.py:383-388``); here parsing happens once per *host* in a tiny
    pandas-UDF pass over the dimension table, producing
    ``(host, crawl_delay int, rules array<struct<path string, allow boolean>>)``
    in file order — exactly ``urllib.robotparser``'s decision list (first
    matching prefix rule wins, default allow). The per-URL gate is then pure
    Catalyst (no Python in the hot path).
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_setup()
        for pdf in batches:
            out_rules, out_delay = [], []
            for txt in pdf["robots_txt"]:
                delay, rules = parse_robots_txt(txt)
                out_rules.append(rules)
                out_delay.append(delay)
            yield pd.DataFrame(
                {"host": pdf["host"], "crawl_delay": out_delay, "rules": out_rules}
            )

    # Keep the input partitioning: the dim is small and, with
    # session.worker_setup, a Python task costs about what its parse costs,
    # so neither coalescing nor spreading the input pays.
    return robots.select("host", "robots_txt").mapInPandas(
        parse,
        "host string, crawl_delay int, rules array<struct<path string, allow boolean>>",
    )


def robots_gate(frontier: DataFrame, compiled_robots: Optional[DataFrame]) -> DataFrame:
    """Broadcast-join the compiled robots dim on host and gate.

    Adds ``crawl_delay int``; disallowed rows are *dropped* (reference skips
    them silently, ``base.py:369-371``). Missing host → allow, delay 0
    (fail-open, ``base.py:387-388``). Entirely JVM-side: prefix match over
    the rule array with first-match-wins (urllib ``RuleLine`` order).
    """
    if compiled_robots is None:
        return frontier.withColumn("crawl_delay", F.lit(0))
    joined = frontier.join(F.broadcast(compiled_robots), on="host", how="left")
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    # urllib quotes the path before matching; our URL space is plain ASCII.
    matching = F.filter(
        F.col("rules"),
        lambda r: (r["path"] == "") | F.startswith(path, r["path"]),
    )
    can_fetch = F.coalesce(F.try_element_at(matching, F.lit(1))["allow"], F.lit(True))
    return (
        joined.withColumn("can_fetch", can_fetch)
        .filter(F.col("can_fetch"))
        .withColumn("crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(0)))
        .drop("rules", "can_fetch")
    )


INLINE_ROBOTS_MAX = 64
# Mid-tier cap: dims up to this many hosts are compiled DRIVER-SIDE (one
# take + a python loop over tiny text files) and re-entered as a
# LocalRelation, so each crawl round's robots broadcast builds from driver
# memory — no per-round python job, no cache scan. Above this, the dim is
# compiled distributed (pandas-UDF pass) and broadcast-joined per round.
LOCAL_ROBOTS_MAX = 65536


def inline_robots_cols(robots_rows, url_col: str = "url"):
    """Constant-folded robots gate for a small compiled-robots dimension:
    the (can_fetch, crawl_delay) Column pair.

    ``robots_rows`` is the **collected** output of :func:`compile_robots`
    (≤ :data:`INLINE_ROBOTS_MAX` hosts). Instead of broadcast-joining the dim
    table on every crawl round, the per-host decision lists are folded into
    literal CASE/WHEN expression trees evaluated inside whole-stage codegen;
    hosts without rules or delay are left out of the chains. Semantics equal
    :func:`robots_gate`: first matching prefix rule wins, missing host ⇒
    allow + delay 0 (reference fail-open, ``base.py:387-388``). At warehouse
    scale use :func:`robots_gate`; the crawl loop picks by dim size.

    Unresolved Columns are input-independent templates — the crawl loop
    builds them ONCE and reuses them every round (rebuilding a many-host
    CASE/WHEN chain is hundreds of py4j round-trips per round, a measurable
    slice of the per-round scheduling floor)."""
    path = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit("/"))
    host = F.col("host")

    can_fetch = None
    for r in robots_rows:
        rules = r["rules"] or []
        if not rules:
            continue
        host_expr = None
        for line in rules:
            cond = F.lit(True) if line["path"] == "" else F.startswith(path, F.lit(line["path"]))
            allow = F.lit(bool(line["allow"]))
            host_expr = F.when(cond, allow) if host_expr is None else host_expr.when(cond, allow)
        host_expr = host_expr.otherwise(F.lit(True))
        branch = F.when(host == F.lit(r["host"]), host_expr)
        can_fetch = branch if can_fetch is None else can_fetch.when(host == F.lit(r["host"]), host_expr)
    can_fetch = F.lit(True) if can_fetch is None else can_fetch.otherwise(F.lit(True))

    delay = None
    for r in robots_rows:
        if r["crawl_delay"]:
            branch_val = F.lit(int(r["crawl_delay"]))
            delay = (
                F.when(host == F.lit(r["host"]), branch_val)
                if delay is None
                else delay.when(host == F.lit(r["host"]), branch_val)
            )
    delay = F.lit(0) if delay is None else delay.otherwise(F.lit(0))

    return can_fetch, delay


def _rank_order(df: DataFrame):
    """Within-host fetch order for the budget window: priority DESC (the
    north_rule priority queue — higher priority wins contended budget
    slots), then FIFO (depth, seq). Frontiers without a priority column
    (or with the default 0 everywhere) rank in exact reference FIFO order."""
    cols = []
    if "priority" in df.columns:
        cols.append(F.col("priority").desc())
    cols += [F.col("depth"), F.col("seq")]
    return cols


def fast_budget_rank(
    frontier: DataFrame,
    delayed_hosts: list[str],
    round_seconds: int = 60,
    max_per_host: Optional[int] = None,
) -> DataFrame:
    """P3 split when the set of delay-carrying hosts is known a priori.

    robots dims are static per crawl, so the driver knows exactly which hosts
    have ``crawl_delay > 0`` before the loop starts (``compile_robots`` is
    collected once). Only those hosts can ever be over budget when
    ``max_per_host`` is unset, so the politeness window shuffles **only their
    rows** — selected by a literal ``isin``, no per-round groupBy or
    broadcast — and every other host passes straight through. Requires the
    frontier to carry ``crawl_delay`` (attached at append time by the gate).
    """
    if max_per_host is not None:
        return budget_rank(frontier, round_seconds, max_per_host)
    budget = _budget_expr(round_seconds, None)
    w = Window.partitionBy("host").orderBy(*_rank_order(frontier))
    hot = frontier.filter(F.col("host").isin(delayed_hosts))
    cold = frontier.filter(~F.col("host").isin(delayed_hosts))
    ranked_hot = hot.withColumn("host_rank", F.row_number().over(w)).withColumn(
        "fetch_now", F.col("host_rank") <= budget
    )
    passed_cold = cold.withColumn("host_rank", F.lit(None).cast("int")).withColumn(
        "fetch_now", F.lit(True)
    )
    return ranked_hot.unionByName(passed_cold)


def _abp_to_regex(rule: str) -> str:
    """One ABP filter (sans ``@@`` prefix) → Java-compatible regex.

    Supported ABP grammar subset: ``||`` host anchor (subdomains included),
    ``|`` start/end anchors, ``*`` wildcard, ``^`` separator placeholder
    (any non-URL char or end), ``/re/`` raw regex; everything else literal
    substring. (The reference delegates to ``braveblock`` with full Brave
    lists plus source-url/request-type context — ``optional/utils.py:31-46``;
    this engine filters frontier URLs, i.e. request_type=document.)
    """
    import re as _re

    if len(rule) > 1 and rule.startswith("/") and rule.endswith("/"):
        return rule[1:-1]
    prefix = suffix = ""
    if rule.startswith("||"):
        prefix = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*\.)?"
        rule = rule[2:]
    elif rule.startswith("|"):
        prefix = "^"
        rule = rule[1:]
    if rule.endswith("|"):
        suffix = "$"
        rule = rule[:-1]
    esc = _re.escape(rule)
    esc = esc.replace(r"\*", ".*").replace(r"\^", r"([^\w\-.%]|$)")
    return prefix + esc + suffix


# resource-type ABP options (positive form). This engine filters frontier
# URLs — top-level DOCUMENT requests — so a rule restricted to other
# resource types can never match and is dropped, not mis-applied.
_ABP_TYPE_OPTIONS = {
    "script", "image", "stylesheet", "object", "xmlhttprequest", "xhr",
    "subdocument", "frame", "ping", "websocket", "webrtc", "font", "media",
    "other", "popup", "document", "doc", "all",
}
_ABP_DOC_TYPES = {"popup", "document", "doc", "all"}
# context options evaluated against the referring page when the caller
# provides a source-url column (reference passes source_url + request type
# to braveblock — optional/utils.py:36-43)
_ABP_CTX_OPTIONS = {"third-party", "3p", "first-party", "1p", "domain", "from"}
_warned_abp_options: set = set()


def _abp_parse_line(line: str):
    """One raw ABP list line → ``(kind, pattern, ctx)``.

    ``kind``: ``"block"`` / ``"except"`` / ``None`` (comment, header,
    element-hiding rule, or a rule whose type options exclude document
    requests). ``$``-option suffixes are parsed: resource-type options
    decide applicability (document-request context); CONTEXT options —
    ``$third-party``/``$~third-party`` and ``$domain=a.com|~b.com`` — are
    returned in ``ctx`` (a dict with ``third_party``/``domains``/
    ``not_domains``) for :func:`adblock_filter` to evaluate against the
    referring page when it has one. Other options this engine cannot
    evaluate (``$csp``, ``$redirect``, ...) are ignored with a
    once-per-option ``logging`` warning — NOT treated as part of the match
    pattern (real EasyLists would silently mis-filter otherwise).
    """
    line = line.strip()
    if not line or line[0] in "![":  # comment / `[Adblock Plus 2.0]` header
        return None, None, None
    if re.search(r"#[@?$]?#", line):  # element hiding: ##, #@#, #?#, #$#
        return None, None, None
    kind = "block"
    if line.startswith("@@"):
        kind, line = "except", line[2:]
    pattern, options = line, []
    if not (len(line) > 1 and line.startswith("/") and line.endswith("/")):
        head, sep, tail = line.rpartition("$")
        # the tail is an options list only if every comma-separated token
        # looks like one: `~?name` (no dots — separates `$image` the option
        # from `$image.html` in a URL pattern) or `name=value`
        if sep and head and all(
            re.fullmatch(r"~?[A-Za-z][\w-]*(=[^\s]*)?", o)
            for o in tail.split(",")
        ):
            pattern, options = head, tail.split(",")
    pos_types = set()
    third_party = None
    domains: list = []
    not_domains: list = []
    for opt in options:
        name = opt.lstrip("~").split("=", 1)[0].lower()
        if name in _ABP_TYPE_OPTIONS:
            if not opt.startswith("~"):
                pos_types.add(name)
        elif name in _ABP_CTX_OPTIONS:
            if name in ("third-party", "3p"):
                third_party = not opt.startswith("~")
            elif name in ("first-party", "1p"):
                third_party = opt.startswith("~")
            else:  # domain= / from=
                for d in opt.split("=", 1)[1].split("|"):
                    d = d.strip().lower()
                    if not d:
                        continue
                    (not_domains if d.startswith("~") else domains).append(
                        d.lstrip("~")
                    )
        elif name not in _warned_abp_options:
            _warned_abp_options.add(name)
            logging.getLogger(__name__).warning(
                "adblock: ignoring unsupported ABP option $%s "
                "(no request context in frontier filtering)", name,
            )
    if pos_types and not (pos_types & _ABP_DOC_TYPES):
        return None, None, None  # e.g. `$script,image`: cannot match a document
    ctx = None
    if third_party is not None or domains or not_domains:
        ctx = {
            "third_party": third_party,
            "domains": tuple(domains),
            "not_domains": tuple(not_domains),
        }
    return kind, pattern, ctx


def _registrable(host):
    """Registrable domain (eTLD+1) per the public-suffix list — see
    :mod:`dude_spark.psl` (embedded common-suffix subset by default; ship
    the full list via ``psl.load_public_suffix_list``). Exact for
    .co.uk-style multi-label suffixes, matching ``braveblock``'s
    ``$third-party`` semantics (reference ``optional/utils.py:31-46``)."""
    from .psl import registrable

    return registrable(host)


def _ctx_condition(ctx: dict, source_col: str):
    """JVM-side boolean: does this rule's ABP context apply to a row with
    referring page ``source_col``? NULL source (seed rows, no referrer) is
    first-party with no source host — ``$domain=`` rules never apply,
    ``$third-party`` rules never apply, ``$~third-party`` rules do."""
    src_host = F.lower(F.parse_url(F.col(source_col), F.lit("HOST")))
    cond = F.lit(True)
    if ctx["third_party"] is not None:
        url_host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
        is_third = src_host.isNotNull() & (
            _registrable(src_host) != _registrable(url_host)
        )
        cond = cond & (is_third if ctx["third_party"] else ~is_third)
    hit = None
    for d in ctx["domains"]:
        m = (src_host == d) | src_host.endswith("." + d)
        hit = m if hit is None else (hit | m)
    if hit is not None:
        cond = cond & F.coalesce(hit, F.lit(False))
    for d in ctx["not_domains"]:
        m = (src_host == d) | src_host.endswith("." + d)
        cond = cond & ~F.coalesce(m, F.lit(False))
    return cond


def adblock_filter(
    frontier: DataFrame, rules: list[str], source_col: str | None = None
) -> DataFrame:
    """P4: drop URLs matching a blocklist (reference wraps ``braveblock``
    with Brave/ABP lists plus source-url/request-type context —
    ``optional/utils.py:31-46``, blocked-url test ``tests/test_bs4.py:
    340-371``).

    ABP subset per :func:`_abp_to_regex` with list-file awareness per
    :func:`_abp_parse_line` (comments, element-hiding rules and
    non-document-type rules dropped), plus ``@@rule`` exceptions (a URL
    matching any exception survives even when a block rule matches).

    Context options: when ``source_col`` names the referring-page-url
    column, ``$third-party``/``$~third-party`` and ``$domain=a.com|~b.com``
    are evaluated per-row against (url, source) — each distinct context
    signature compiles to ONE regex alternation gated by one boolean
    expression, so a list with thousands of same-context rules still
    costs a handful of JVM-side predicates. Without ``source_col`` the
    r3 fallback applies: the context is ignored with a once-per-option
    warning and the pattern matches unconditionally (conservative
    over-blocking, never silent mis-parsing). Everything stays inside the
    append-time projection — no Python, no joins, at any scale.
    """
    if not rules:
        return frontier
    blocked = adblock_blocked_expr(rules, source_col)
    if blocked is None:
        return frontier
    return frontier.filter(~blocked)


def adblock_blocked_expr(rules: list[str], source_col: str | None = None):
    """The blocked-URL predicate Column behind :func:`adblock_filter`
    (None ⇒ no parseable block rules). Exposed so the crawl loop can build
    the (potentially large) regex-alternation expression tree once and
    reuse it every round — unresolved Columns are input-independent."""
    parsed = [_abp_parse_line(r) for r in rules]
    # group rules by (kind, context signature); None-context group is the
    # unconditional fast path
    groups: dict = {}
    for k, p, ctx in parsed:
        if k is None or not p:
            continue
        if ctx is not None and source_col is None:
            for name in (
                (["third-party"] if ctx["third_party"] is not None else [])
                + (["domain"] if (ctx["domains"] or ctx["not_domains"]) else [])
            ):
                if name not in _warned_abp_options:
                    _warned_abp_options.add(name)
                    logging.getLogger(__name__).warning(
                        "adblock: ignoring unsupported ABP option $%s "
                        "(no request context in frontier filtering)", name,
                    )
            ctx = None
        sig = (
            None
            if ctx is None
            else (ctx["third_party"], ctx["domains"], ctx["not_domains"])
        )
        groups.setdefault((k, sig), ([], ctx))[0].append(_abp_to_regex(p))

    def _match(kind: str):
        expr = None
        for (k, _sig), (regexes, ctx) in groups.items():
            if k != kind:
                continue
            m = F.col("url").rlike("|".join(f"({r})" for r in regexes))
            if ctx is not None:
                m = m & _ctx_condition(ctx, source_col)
            expr = m if expr is None else (expr | m)
        return expr

    blocked = _match("block")
    if blocked is None:
        return None
    excepted = _match("except")
    if excepted is not None:
        blocked = blocked & ~excepted
    return blocked


def _budget_expr(round_seconds: int, max_per_host: Optional[int]):
    # liveness floor of 1: a delay larger than the round window would
    # otherwise starve the host forever (the reference just sleeps longer,
    # base.py:372); one fetch per round ≙ effective delay = round_seconds.
    budget = F.when(
        F.col("crawl_delay") > 0,
        F.greatest(F.lit(1), F.floor(F.lit(round_seconds) / F.col("crawl_delay"))),
    ).otherwise(F.lit(2**31))
    if max_per_host is not None:
        budget = F.least(budget, F.lit(max_per_host))
    return budget


def budget_rank(
    frontier: DataFrame,
    round_seconds: int = 60,
    max_per_host: Optional[int] = None,
    exact_ranks: bool = False,
) -> DataFrame:
    """P3: split the round's frontier into fetch-now vs deferred.

    Adds ``host_rank`` (FIFO order within host) and ``fetch_now`` boolean.
    Budget per host = floor(round_seconds / crawl_delay) (unlimited for
    delay 0), optionally capped by ``max_per_host`` (hot-host cap).

    Skew engineering (SURVEY §4.3): the window sort is only *semantically
    needed* for hosts whose pending count exceeds their budget. By default
    the frontier is first reduced to per-host counts (partial-agg shuffle of
    ~|hosts| rows) and only over-budget ("hot") hosts pay the full-row
    window; under-budget hosts pass with ``host_rank = NULL, fetch_now =
    true``. ``exact_ranks=True`` ranks every host (reference-faithful
    output, used by the oracle-checked politeness query).
    """
    budget = _budget_expr(round_seconds, max_per_host)
    w = Window.partitionBy("host").orderBy(*_rank_order(frontier))
    if exact_ranks:
        return frontier.withColumn("host_rank", F.row_number().over(w)).withColumn(
            "fetch_now", F.col("host_rank") <= budget
        )
    hot_hosts = (
        frontier.groupBy("host", "crawl_delay")
        .agg(F.count("*").alias("n_pending"))
        .filter(F.col("n_pending") > budget)
        .select("host")
    )
    hot = frontier.join(F.broadcast(hot_hosts), on="host", how="left_semi")
    cold = frontier.join(F.broadcast(hot_hosts), on="host", how="left_anti")
    ranked_hot = hot.withColumn("host_rank", F.row_number().over(w)).withColumn(
        "fetch_now", F.col("host_rank") <= budget
    )
    passed_cold = cold.withColumn(
        "host_rank", F.lit(None).cast("int")
    ).withColumn("fetch_now", F.lit(True))
    return ranked_hot.unionByName(passed_cold)
