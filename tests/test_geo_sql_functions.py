"""ST_Area, ST_Centroid, ST_Intersects, ST_Crosses, ST_Overlaps,
ST_Touches and the T/F/* form of ST_Relate have one implementation: SQL
text templates (functions/geo.py ``_S_*``) registered per session as
temporary SQL functions ``__geo_<name>``.  Building a call is a small,
fixed number of Py4J commands whatever the template's size; the
functions live in the session that was active when the Column was
built; and ST_Relate builds only the DE-9IM cells its pattern names.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import geo, presto as P

BUILDERS = {
    "st_area": lambda a, b: P.st_area(a),
    "st_centroid": lambda a, b: P.st_centroid(a),
    "st_intersects": P.st_intersects,
    "st_crosses": P.st_crosses,
    "st_overlaps": P.st_overlaps,
    "st_touches": P.st_touches,
    "st_relate": lambda a, b: P.st_relate(a, b, "T*T***T**"),
}


def _py4j_commands(spark, build) -> int:
    """Py4J commands this thread sends to the JVM while ``build()`` runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = 0

    def counting_send(*args, **kwargs):
        nonlocal n
        if threading.get_ident() == me:
            n += 1
        return send(*args, **kwargs)

    client.send_command = counting_send
    try:
        build()
    finally:
        client.send_command = send
    return n


@contextmanager
def _active(session, then):
    """Make ``session`` the active one (createDataFrame does that), and
    ``then`` active again on exit."""
    session.createDataFrame([(1,)], "i int")
    try:
        yield session
    finally:
        then.createDataFrame([(1,)], "i int")


def test_geo_builders_send_a_constant_number_of_py4j_commands(spark):
    a, b = F.col("a"), F.col("b")
    for build in BUILDERS.values():
        build(a, b)  # first use registers the SQL functions in this session
    counts = {
        name: _py4j_commands(spark, lambda build=build: build(a, b))
        for name, build in BUILDERS.items()
    }
    # a Column-API spelling of these bodies is hundreds to thousands of
    # commands; a call is an active-session lookup, a catalog lookup and
    # one call_function
    assert max(counts.values()) <= 30, counts
    # the bodies run from ~1 KB (st_area) to ~11 KB (st_touches): the
    # count does not depend on them (one operand fewer is one command less)
    assert max(counts.values()) - min(counts.values()) <= 2, counts


def test_geo_functions_resolve_in_the_session_active_at_build(spark):
    s2 = spark.newSession()
    with _active(s2, then=spark):
        df = s2.createDataFrame(
            [("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "POLYGON ((4 0, 8 0, 8 4, 4 4, 4 0))")],
            "wa string, wb string",
        ).select(P.st_geom_from_text("wa").alias("a"), P.st_geom_from_text("wb").alias("b"))
        row = df.select(
            P.st_area(F.col("a")).alias("area"),
            P.st_touches("a", "b").alias("touches"),
            P.st_overlaps(F.col("a"), F.col("b")).alias("overlaps"),
        ).collect()[0]
    assert (row.area, row.touches, row.overlaps) == (16.0, True, False)
    assert s2.catalog.functionExists("__geo_touches")
    # registration is per session: a session no geo Column was built in
    # has none of the functions
    assert not spark.newSession().catalog.functionExists("__geo_touches")


def test_st_relate_builds_only_the_cells_its_pattern_names(spark, monkeypatch):
    built = []
    cell = geo._S_relate_cell
    monkeypatch.setattr(
        geo, "_S_relate_cell", lambda name, a, b: built.append(name) or cell(name, a, b)
    )
    s3 = spark.newSession()  # nothing is registered there yet
    with _active(s3, then=spark):
        P.st_relate(F.col("a"), F.col("b"), "T******F*")
    assert built == ["ii", "eb"]


def test_st_relate_rejects_unknown_pattern_characters(spark):
    with pytest.raises(ValueError, match="DE-9IM"):
        P.st_relate(F.col("a"), F.col("b"), "T*T***T*Q")
    with pytest.raises(ValueError, match="DE-9IM"):
        P.st_relate(F.col("a"), F.col("b"), "T*T***T*")
    df = spark.range(1).select(
        P.st_geom_from_text(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")).alias("a"),
        P.st_geom_from_text(F.lit("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")).alias("b"),
    )
    # lower case is accepted, as before
    assert df.select(P.st_relate("a", "b", "t*t***t**").alias("v")).collect()[0].v


def test_intersects_and_touches_are_false_on_an_empty_geometry(spark):
    """Presto checks envelopes first, and an empty geometry's envelope
    meets nothing (GeoFunctions.stIntersects / stTouches)."""
    df = spark.createDataFrame(
        [("", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")], "e string, g string"
    )
    e, g = P.st_geom_from_text(F.col("e")), P.st_geom_from_text(F.col("g"))
    row = df.select(
        P.st_intersects(e, g), P.st_intersects(g, e),
        P.st_touches(e, g), P.st_touches(g, e), P.st_intersects(e, e),
    ).first()
    assert tuple(row) == (False,) * 5
