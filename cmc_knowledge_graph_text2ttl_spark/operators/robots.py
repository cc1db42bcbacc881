"""robots.txt policy evaluation: which URLs may a compliant pipeline
keep.

A crawl corpus at scale carries millions of robots.txt files; applying
them is a per-host dimension join, not per-URL parsing: the policies
parse ONCE into (host, rule) rows, broadcast against the URL table, and
the allow/deny decision is pure column logic (prefix match + a
longest-rule argmax). This mirrors the entity-linking shape
(broadcast dict + cascade) rather than a per-row UDF.

Semantics (the de-facto Googlebot rules, documented deviations):

* the group whose ``User-agent`` equals the requested agent
  (case-insensitive) applies; otherwise the ``*`` group;
* the longest matching rule path wins; on a length tie ``Allow`` wins;
* an empty ``Disallow:`` means allow-everything (no rule emitted);
* rule paths are PREFIX patterns — ``*``/``$`` wildcards are not
  supported and such rules are dropped with a reason (rare in practice
  and explicitly optional in RFC 9309).
* no matching rule → allowed (crawl-by-default, per the RFC).
"""

from __future__ import annotations

import re
from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .columns import map_rows

__all__ = ["parse_robots", "robots_rules", "robots_allowed"]

RULES_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("allow", BooleanType(), False),
        StructField("prefix", StringType(), False),
        StructField("rule_len", IntegerType(), False),
    ]
)


def parse_robots(text: str, agent: str = "*") -> List[Tuple[bool, str]]:
    """robots.txt body → [(allow, path_prefix)] for ``agent``.

    Groups are runs of ``User-agent`` lines followed by rules; the
    agent-exact group wins over the ``*`` group when both exist."""
    agent = agent.lower()
    groups: List[Tuple[List[str], List[Tuple[bool, str]]]] = []
    cur_agents: List[str] = []
    cur_rules: List[Tuple[bool, str]] = []
    in_agent_run = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, value = line.split(":", 1)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_agent_run:
                if cur_agents:
                    groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
                in_agent_run = True
            cur_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_agent_run = False
            if not value:
                continue  # empty Disallow: == allow everything
            if "*" in value or "$" in value:
                continue  # wildcard rules unsupported (documented)
            cur_rules.append((field == "allow", value))
        else:
            in_agent_run = False  # crawl-delay, sitemap, ...
    if cur_agents:
        groups.append((cur_agents, cur_rules))
    exact = [r for agents, r in groups if agent in agents]
    if exact:
        return exact[0]
    star = [r for agents, r in groups if "*" in agents]
    return star[0] if star else []


def robots_rules(robots_df: DataFrame) -> DataFrame:
    """(host, robots_txt) → one row per rule that applies to the ``*``
    agent (host, allow, prefix, rule_len). Parse once per host; the
    output is the broadcastable policy dimension."""

    def row_fn(host, text):
        for allow, prefix in parse_robots(str(text or "")):
            yield (str(host), allow, prefix, len(prefix))

    return map_rows(robots_df.select("host", "robots_txt"), RULES_SCHEMA, lambda: row_fn)


def robots_allowed(urls_df: DataFrame, rules_df: DataFrame) -> DataFrame:
    """``url`` rows + broadcast policy rules → (url, allowed).

    One broadcast left join on host; a rule contributes only when its
    prefix matches the path; the verdict is an argmax over
    (rule_len, allow) — longest rule wins, Allow wins ties — with
    allowed=true when nothing matches. All column expressions after
    the parse; the URL table is never collected or re-parsed."""
    # scheme and host are case-insensitive per RFC 3986 — lowercase the
    # extracted host and match the scheme case-insensitively, otherwise
    # 'HTTP://EXAMPLE.com/...' silently bypasses every rule (paths stay
    # case-sensitive, as robots rules are). Rules are keyed by bare
    # hostname, so the authority must be stripped of userinfo and :port
    # ('http://example.com:8080/x' must join example.com's rules, not
    # fall through to allowed-by-default).
    u = urls_df.select(
        "url",
        F.lower(
            F.regexp_replace(
                F.regexp_extract(
                    "url", r"(?i)^[a-z][a-z0-9+.-]*://([^/]+)", 1
                ),
                r"^[^@]*@|:\d+$",
                "",
            )
        ).alias("host"),
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    "url", r"(?i)^[a-z][a-z0-9+.-]*://[^/]+(/.*)$", 1
                ),
                F.lit(""),
            ),
            F.lit("/"),
        ).alias("path"),
    )
    rules = rules_df.withColumn("host", F.lower(F.col("host")))
    j = u.join(F.broadcast(rules), "host", "left")
    hit = F.when(
        F.col("prefix").isNotNull() & F.col("path").startswith(F.col("prefix")),
        F.struct(
            F.col("rule_len").alias("l"),
            F.col("allow").cast("int").alias("a"),
        ),
    )
    return (
        j.withColumn("_hit", hit)
        .groupBy("url")
        .agg(F.max("_hit").alias("best"))
        .select(
            "url",
            F.coalesce(F.col("best.a") == 1, F.lit(True)).alias("allowed"),
        )
    )


def parse_crawl_delay(text: str, agent: str = "*"):
    """robots.txt body → Crawl-delay in MILLISECONDS for ``agent``
    (None when absent). Same group semantics as :func:`parse_robots`
    (agent-exact group beats ``*``); the value is parsed as a decimal
    number of seconds WITHOUT floats — whole·1000 + first three
    fraction digits — so every engine/test reproduces it exactly.
    Non-numeric values are ignored (treated as absent), per the
    de-facto lenient handling."""
    agent = agent.lower()
    groups = []  # (agents, delay_ms or None)
    cur_agents: List[str] = []
    cur_delay = None
    in_agent_run = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, value = line.split(":", 1)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_agent_run:
                if cur_agents:
                    groups.append((cur_agents, cur_delay))
                cur_agents, cur_delay = [], None
                in_agent_run = True
            cur_agents.append(value.lower())
        else:
            in_agent_run = False
            if field == "crawl-delay":
                m = re.fullmatch(r"([0-9]+)(?:\.([0-9]+))?", value)
                if m is not None:
                    frac = (m.group(2) or "") + "000"
                    cur_delay = int(m.group(1)) * 1000 + int(frac[:3])
    if cur_agents:
        groups.append((cur_agents, cur_delay))
    exact = [d for agents, d in groups if agent in agents]
    if exact:
        return exact[0]
    star = [d for agents, d in groups if "*" in agents]
    return star[0] if star else None


def crawl_delays(robots_df: DataFrame) -> DataFrame:
    """(host, robots_txt) → (host, delay_ms) — the per-host politeness
    dimension table: the ``*`` agent's Crawl-delay per
    :func:`parse_crawl_delay`, 1000 ms when the host declares none.
    Parse once per host (map_rows, same shape as robots_rules); the
    output is broadcastable."""

    def row_fn(host, text):
        d = parse_crawl_delay(str(text or ""))
        yield (str(host), 1000 if d is None else d)

    return map_rows(
        robots_df.select("host", "robots_txt"),
        "host string, delay_ms long",
        lambda: row_fn,
    )


def robots_sitemaps(robots_df: DataFrame) -> DataFrame:
    """(host, robots_txt) → (host, sitemap_url) — ``Sitemap:``
    declarations from robots.txt (RFC 9309 §2.3: they are global, not
    group-scoped, so this is a pure multiline column regex — no group
    parser, no UDF). One row per declaration; hosts without any yield no
    rows. Feeds sitemaps.parse_sitemaps for the discovery loop."""
    urls = F.regexp_extract_all(
        F.col("robots_txt"),
        F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)"),
        1,
    )
    return robots_df.select("host", F.explode(urls).alias("sitemap_url")).filter(
        F.col("sitemap_url") != ""
    )
