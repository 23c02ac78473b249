"""K6 — hierarchical geo-location rule rewriter.

Re-implements the Nextstrain geoLocationRules semantics used by the
reference's GISAID importer (gisaid/GeoLocationMapper.java:20-131):

- a rule maps an input 4-tuple (region, country, division, location) to an
  output 4-tuple;
- ``*`` on the input side matches any value (case-insensitive compare on
  concrete fields);
- ``*`` on the output side means "keep the input value";
- rules are applied repeatedly until a fixpoint is reached, with a cycle
  guard (the reference aborts after 1000 rewrites);
- when several rules match, the most specific one (fewest input wildcards)
  wins; ties break by rule order.

The per-row rewrite is inherently sequential (each application can enable
the next), so this is one of the few genuine UDF cases (SURVEY.md §2.12):
rules are broadcast to every executor and applied inside an Arrow-batched
pandas UDF — no shuffle, scales linearly with row count.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

GeoTuple = tuple[str, str, str, str]

MAX_ITERATIONS = 1000


@dataclass(frozen=True)
class GeoRule:
    src: GeoTuple  # '*' entries match anything
    dst: GeoTuple  # '*' entries keep the input value

    @property
    def specificity(self) -> int:
        return sum(1 for f in self.src if f != "*")


def _matches(rule: GeoRule, value: GeoTuple) -> bool:
    return all(s == "*" or s.lower() == v.lower() for s, v in zip(rule.src, value))


def _apply(rule: GeoRule, value: GeoTuple) -> GeoTuple:
    return tuple(v if d == "*" else d for d, v in zip(rule.dst, value))  # type: ignore[return-value]


def resolve_geo(rules: list[GeoRule], value: GeoTuple, max_iter: int = MAX_ITERATIONS) -> GeoTuple:
    """Apply ``rules`` to ``value`` until fixpoint.

    Each round picks the most specific matching rule (ties by rule order)
    and applies it; stops when no rule changes the tuple. Raises
    RuntimeError if ``max_iter`` rounds do not converge (rule cycle) — the
    reference's cycle guard.
    """
    current = value
    for _ in range(max_iter):
        candidates = [r for r in rules if _matches(r, current)]
        if not candidates:
            return current
        best = max(candidates, key=lambda r: r.specificity)  # max is order-stable on ties
        rewritten = _apply(best, current)
        if rewritten == current:
            return current
        current = rewritten
    raise RuntimeError(f"geo rules did not converge after {max_iter} iterations for {value!r}")


def geo_rewrite_udf(rules: list[GeoRule]):
    """A pandas UDF ``(region, country, division, location) -> struct`` that
    applies ``rules`` to fixpoint per row. ``rules`` is captured in the
    closure, which Spark ships once per executor (broadcast semantics)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("region string, country string, division string, location string")
    def _rewrite(
        region: pd.Series, country: pd.Series, division: pd.Series, location: pd.Series
    ) -> pd.DataFrame:
        out = [
            resolve_geo(rules, (r or "", c or "", d or "", l or ""))
            for r, c, d, l in zip(region, country, division, location)
        ]
        return pd.DataFrame(out, columns=["region", "country", "division", "location"])

    return _rewrite
