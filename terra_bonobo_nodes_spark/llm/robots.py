"""robots.txt compliance filtering (RFC 9309, public — the Robots
Exclusion Protocol): the third member of the URL-hygiene family
(canonical keys, domain blocklists, and now per-path crawl consent).
A curation pipeline that keeps pages a site's robots.txt disallows is
shipping content the crawler was asked not to take; this filters at
corpus level, after the fact, from the (host, robots.txt) snapshots a
crawl already stores.

Split design (each half verified where it is strongest):

- PARSING (:func:`robots_rules`) is line-stateful (a rule belongs to
  the preceding ``User-agent`` group, adjacent UA lines share one
  group) — an Arrow-batched ``mapInPandas`` over the per-host robots
  text (robots.txt is KiB-sized by convention; one row in, a handful
  of rule rows out), pinned by pytest against the RFC's own examples.
- MATCHING (:func:`flag_robots_disallowed`) is where the data is:
  rules collapse to ONE array row per host, broadcast into a single
  left join, and the RFC's decision — LONGEST pattern wins, allow
  wins a length tie, no matching rule means allowed — is a
  higher-order fold over the matched rules. Pure Column, no window,
  row-preserving; fully SQL-replayable (the rule regexes are
  deterministic strings both engines compile identically — see
  :func:`rule_regex`).

Semantics implemented (and the documented simplifications):
``User-agent`` matching is case-insensitive exact-token or ``*`` (RFC
product-token substring matching is not attempted); all groups whose
agent matches combine (RFC 9309 §2.2.1); ``Allow``/``Disallow`` are
the only rule fields consumed (``Crawl-delay``/``Sitemap`` ignored);
an empty ``Disallow:`` value is the RFC's allow-everything idiom (no
rule emitted); ``#`` comments strip; patterns support the RFC's ``*``
wildcard and ``$`` end anchor. Matching is against the URL's path +
optional ``?query`` (the RFC's URI path-and-query), percent-encoding
left as-is (the canonical_url out-of-scope precedent).

100 TB shape: rules are host-grain and web-host sized — their
per-host arrays broadcast into the one left join, and the document
table NEVER SHUFFLES (the flag_blocked_hosts convention). No Python
in the matching path; the per-(doc, rule) regex test is JVM-side
``regexp_like`` inside the fold.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from terra_bonobo_nodes_spark.columns import working_names
from terra_bonobo_nodes_spark.llm.urls import host_of

_RULES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("allow", T.BooleanType()),
        T.StructField("pattern", T.StringType()),
        T.StructField("regex", T.StringType()),
        T.StructField("plen", T.IntegerType()),
    ]
)


def rule_regex(pattern: str) -> str:
    """The anchored regex a robots path pattern compiles to — ``*``
    matches any run, a trailing ``$`` anchors the end, every other
    character is literal. Stays in the Java∩RE2 shared subset so both
    engines compile the same string to the same automaton."""
    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    out = []
    for part in body.split("*"):
        out.append(re.escape(part))
    rx = "^" + ".*".join(out)
    return rx + "$" if anchored_end else rx


def parse_robots(host: str, text: str, agent: str = "*") -> list[tuple]:
    """Pure-Python single-host parse — the unit the distributed form
    batches; returns (host, allow, pattern, regex, plen) tuples for
    the groups governing ``agent`` (exact case-insensitive token or
    the ``*`` fallback; specific groups SHADOW the ``*`` groups per
    RFC 9309 §2.2.1's most-specific-match)."""
    agent = agent.lower()
    groups: list[tuple[set[str], list[tuple[bool, str]]]] = []
    cur_agents: set[str] | None = None
    in_ua_run = False
    # RFC 9309 §2.3: a leading UTF-8 BOM is skipped — without this the
    # first field parses as '\ufeffuser-agent' and the WHOLE file
    # degrades to allow-everything
    for raw in (text or "").lstrip("\ufeff").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field, value = field.strip().lower(), value.strip()
        if field == "user-agent":
            if not in_ua_run:
                cur_agents = set()
                groups.append((cur_agents, []))
                in_ua_run = True
            cur_agents.add(value.lower())
        elif field in ("allow", "disallow"):
            in_ua_run = False
            if cur_agents is None:
                continue  # rules before any user-agent line: ignored
            if not value:
                # empty Disallow is the RFC's allow-everything idiom;
                # empty Allow is vacuous — neither emits a rule
                continue
            groups[-1][1].append((field == "allow", value))
        else:
            in_ua_run = False  # crawl-delay/sitemap/unknown: skipped
    specific = [rs for agents, rs in groups if agent in agents]
    chosen = (
        [r for rs in specific for r in rs]
        if specific
        else [r for agents, rs in groups if "*" in agents for r in rs]
    )
    return [
        (host, allow, pat, rule_regex(pat), len(pat))
        for allow, pat in chosen
    ]


def robots_rules(
    df: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """(host, allow, pattern, regex, plen) — the rule rows governing
    ``agent``, one frame for every host snapshot in ``df``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for host, text in zip(pdf[host_col], pdf[robots_col]):
                if host is None:
                    continue
                rows.extend(parse_robots(host, text or "", agent))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _RULES_SCHEMA]
            )

    return df.select(host_col, robots_col).mapInPandas(run, _RULES_SCHEMA)


def path_of(url) -> F.Column:
    """Path + optional ``?query`` of a URL (the RFC's match target):
    everything from the first ``/`` after the authority; fragment off;
    an authority-only URL matches as ``/``."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    u = F.get(F.split(u, "#", 2), 0)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    tail = F.regexp_replace(rest, r"^[^/?]*", "")
    return F.when(u.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(tail == "", F.lit("/"))
        # host-root with a query ('http://h.ex?q=1'): the RFC match
        # target is '/?q=1' — without the '/', 'Disallow: /' misses it
        .when(tail.startswith("?"), F.concat(F.lit("/"), tail))
        .otherwise(tail)
    )


def flag_robots_disallowed(
    docs: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    out_col: str = "robots_allowed",
) -> DataFrame:
    """Append ``out_col``: the RFC 9309 verdict for each document's
    URL under its host's rules — longest matching pattern wins, allow
    wins a length tie, hosts/paths with no matching rule are allowed.
    A NULL URL yields a NULL verdict (it has no match target), never
    the default allow — filter with ``out_col IS NOT FALSE`` if
    unkeyed rows should pass, ``out_col`` if they must not.

    ROW-PRESERVING by construction (one output row per input row,
    duplicate or NULL keys immaterial — there is no per-document
    window): rules collapse to one array<struct> row per host, that
    host-grain table broadcasts into a single left join, and the
    longest-match decision is a higher-order fold over the matched
    rules — no shuffle of the document table at all (the
    flag_blocked_hosts zero-doc-shuffle convention)."""
    h, p, host_rules = working_names(docs, "_rb_h", "_rb_p", "_rb_rules", outputs=[out_col])
    by_host = rules.groupBy("host").agg(
        F.collect_list(F.struct("plen", "allow", "regex")).alias(host_rules)
    ).withColumnRenamed("host", h)
    d = docs.withColumns({h: host_of(F.col(url_col)), p: path_of(F.col(url_col))})
    j = d.join(F.broadcast(by_host), h, "left")
    hits = F.filter(
        host_rules,
        lambda r: F.regexp_like(F.col(p), r.getField("regex")),
    )
    # fold to the winning rule: score = 2*plen + allow — longest wins,
    # allow wins the tie; the (-1, TRUE) start is also the
    # no-matching-rule (and no-rules-host, via coalesce) default
    start = F.struct(
        F.lit(-1).alias("plen"), F.lit(True).alias("allow")
    )
    best = F.aggregate(
        F.coalesce(hits, F.array().cast("array<struct<plen:int,allow:boolean,regex:string>>")),
        start,
        lambda acc, r: F.when(
            (r.getField("plen") * 2 + r.getField("allow").cast("int"))
            > (acc.getField("plen") * 2 + acc.getField("allow").cast("int")),
            F.struct(
                r.getField("plen").alias("plen"),
                r.getField("allow").alias("allow"),
            ),
        ).otherwise(acc),
    )
    # a NULL URL has no match target: surface NULL, not the
    # default-allow the fold would fall through to (ADVICE_r13 — an
    # unkeyed row must not silently pass the compliance filter)
    verdict = F.when(F.col(p).isNotNull(), best.getField("allow"))
    return j.withColumn(out_col, verdict).select(*docs.columns, out_col)
