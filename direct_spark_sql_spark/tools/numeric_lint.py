"""Numeric-hazard lint over the query registry (VERDICT r12 #2).

Round 12's sf1-equivalent probe caught Q1's ``sum_charge`` hash-mismatching
once group sums crossed 2^53: a scale-6 money funnel left only ~$9e9 of
bit-identical headroom, and the fix (cents, plans/base.py DEC_OUT) lived as
*convention*.  This module codifies the convention as a static lint so a new
query can't silently reintroduce the class.  Three hazards, each one a
cross-engine divergence actually observed in this repo's history:

(a) SUM over a raw DOUBLE column — IEEE addition is not associative, so the
    result depends on partition/merge order inside one engine, and
    DuckDB/JVM disagree even on fixed orders (FMA contraction).
(b) A money-magnitude SUM routed through a DECIMAL funnel with scale > 2 —
    decimal→double egress is only bit-identical while the unscaled value
    fits 2^53; at scale 6 that is ~$9e9 of group sum (seen failing), at
    scale 2 (cents) it is ~$9e13.
(c) SUM over CAST(x AS DOUBLE) — hazard (a) manufactured inline: the cast
    discards exact decimal arithmetic *before* the order-dependent sum.

The lint is textual over (1) every registered DuckDB oracle (the house
style makes every funnel an explicit CAST, so the text is the truth) and
(2) every query's *analyzed* Spark plan string (casts and aggregate
expressions are printed there).  Families whose magnitudes are bounded by
construction keep high-scale funnels deliberately (embedding dots/norms on
unit vectors, per-dimension stats) — they never mention money columns, so
the money-token gate exempts them naturally; anything else legitimate goes
in the explicit ALLOWLIST with a reason.
"""

from __future__ import annotations

import re

#: Raw DOUBLE columns in the testdata star schema (pyarrow-verified).
DOUBLE_COLS = frozenset(
    {
        "c_acctbal",
        "value",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "o_totalprice",
        "p_retailprice",
        "s_acctbal",
    }
)

#: Tokens that mark an expression as money-magnitude (unbounded group sums
#: at corpus scale).  Embedding/stat families never mention these.
MONEY_TOKENS = (
    "extendedprice",
    "totalprice",
    "retailprice",
    "acctbal",
    "supplycost",
    "revenue",
    "charge",
)

#: DOUBLE columns that are integer-valued by generation (FIXTURES.md:
#: l_quantity ∈ {1..50}, verified zero fractional rows): sums of integral
#: doubles are exact at every intermediate (each partial sum an integer
#: < 2^53), hence order-independent and engine-identical — hazard (a)
#: does not apply.  Envelope: Σ stays exact to 9e15, ~180× a 100 TB
#: lineitem's total quantity; past it the sum goes silently inexact, so
#: keep this set to columns whose generator pins integral values.
INTEGRAL_DOUBLE_COLS = frozenset({"l_quantity"})

#: name -> reason, for queries that trip a rule legitimately.
ALLOWLIST: dict[str, str] = {
    "agg_regression_suite": (
        "sy_sd egresses the 1e-4-rescaled price sum at scale 3: values are "
        "<= 10/row after the exact rescale, so the 2^53 window holds to "
        "~9e11 rows/group — and the second moments (dyy0, documented in "
        "_corr_moment_cols) bind far earlier; the rescale IS the hardening."
    ),
}


def _balanced_arg(text: str, open_idx: int) -> str | None:
    """The balanced argument text starting right after ``text[open_idx]``
    (which must be '(') — None if parens never close."""
    depth = 1
    for j in range(open_idx + 1, len(text)):
        c = text[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return text[open_idx + 1 : j]
    return None


def _outermost_cast_type(arg: str) -> str | None:
    """If ``arg``'s outermost construct is CAST(x AS T), return T
    (lowercased, parens stripped); else None."""
    a = arg.strip()
    m = re.match(r"^cast\s*\(", a, re.IGNORECASE)
    if not m:
        return None
    inner = _balanced_arg(a, m.end() - 1)
    # the cast must span the whole expression
    if inner is None or m.end() + len(inner) + 1 != len(a):
        return None
    tm = re.search(r"\bas\s+([a-z0-9_]+\s*(?:\([^)]*\))?)\s*$", inner, re.IGNORECASE)
    return tm.group(1).lower().replace(" ", "") if tm else None


def _is_raw_double_col(arg: str) -> bool:
    """True when the SUM argument is exactly a (possibly qualified, possibly
    exprId-suffixed) raw DOUBLE base column."""
    a = arg.strip()
    m = re.fullmatch(r"(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)(#\d+[A-Z]*)?", a)
    return (
        bool(m)
        and m.group(1).lower() in DOUBLE_COLS
        and m.group(1).lower() not in INTEGRAL_DOUBLE_COLS
    )


def _mentions_money(text: str) -> bool:
    low = text.lower()
    return any(t in low for t in MONEY_TOKENS)


def _money_egress_findings(text: str) -> list[str]:
    """Hazard (b): the direct egress funnel CAST(CAST([ROUND(]SUM(money
    ...)[, s)] AS DECIMAL(p, s>2)) AS DOUBLE).  Only the *egress* scale
    matters — exact-decimal intermediates at any scale are fine as long
    as they stay decimal (the moment/correlation queries keep scale-3/4
    intermediates deliberately); the 2^53 bit-identical window is a
    property of the value that actually crosses into DOUBLE."""
    findings = []
    for m in re.finditer(r"\bcast\s*\(", text, re.IGNORECASE):
        outer = _balanced_arg(text, m.end() - 1)
        if outer is None:
            continue
        tm = re.search(r"\bas\s+double\s*$", outer, re.IGNORECASE)
        if not tm:
            continue
        inner = outer[: tm.start()].strip()
        cast_t = _outermost_cast_type(inner)
        if not cast_t:
            continue
        dm = re.fullmatch(r"decimal\((\d+),(\d+)\)", cast_t)
        if not dm or int(dm.group(2)) <= 2:
            continue
        if re.search(r"\bsum\s*\(", inner, re.IGNORECASE) and _mentions_money(inner):
            findings.append(
                f"(b) money SUM egressed to DOUBLE at scale {dm.group(2)} "
                f"(> cents): CAST({inner[:80]} ... AS DOUBLE)"
            )
    return findings


def lint_text(text: str) -> list[str]:
    """All hazard findings in one SQL/plan text (engine-agnostic: the
    oracle SQL and Spark's analyzed-plan string both print casts)."""
    findings = []
    for m in re.finditer(r"\bsum\s*\(", text, re.IGNORECASE):
        arg = _balanced_arg(text, m.end() - 1)
        if arg is None:
            continue
        arg = arg.strip()
        if _is_raw_double_col(arg):
            findings.append(f"(a) SUM over raw DOUBLE column: SUM({arg[:60]})")
            continue
        cast_t = _outermost_cast_type(arg)
        if cast_t in ("double", "float", "real"):
            findings.append(f"(c) SUM over CAST(... AS {cast_t.upper()}): SUM({arg[:60]})")
    findings.extend(_money_egress_findings(text))
    return findings


def lint_oracle(name: str, sql: str) -> list[str]:
    if name in ALLOWLIST:
        return []
    return lint_text(sql)


def lint_spark_plan(name: str, plan: str) -> list[str]:
    if name in ALLOWLIST:
        return []
    return lint_text(plan)


def main() -> None:
    """CLI: lint every registered oracle (no Spark needed)."""
    from direct_spark_sql_spark.plans.registry import all_queries

    bad = {}
    for q in all_queries():
        if q.oracle is None:
            continue
        f = lint_oracle(q.name, q.oracle)
        if f:
            bad[q.name] = f
    for n, f in sorted(bad.items()):
        print(n)
        for line in f:
            print("   ", line)
    print(f"{len(bad)} queries flagged")


if __name__ == "__main__":
    main()
