"""Catalog & DDL surface: SHOW/DESCRIBE, ALTER TABLE, EXPLAIN, and
the PG json arrow operators — the psql-style commands RisingWave
users issue through the reference's SQL pass-through.
"""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest


def test_show_and_describe(rw):
    rw.execute("DROP TABLE IF EXISTS show_t1")
    rw.execute("CREATE TABLE show_t1 (a INT, b STRING, c TIMESTAMPTZ)")
    names = [r[0] for r in rw.fetch("SHOW TABLES")]
    assert "show_t1" in names
    assert not any(n.startswith("__rw_") for n in names)  # internals hidden

    rw.execute("CREATE MATERIALIZED VIEW show_mv1 AS SELECT count(*) AS n FROM show_t1")
    assert ("show_mv1",) in rw.fetch("SHOW MATERIALIZED VIEWS")
    assert "show_mv1" not in [r[0] for r in rw.fetch("SHOW TABLES")]

    desc = rw.fetch("DESCRIBE show_t1")
    assert desc == [("a", "integer"), ("b", "character varying"),
                    ("c", "timestamp without time zone")]
    assert rw.fetch("SHOW COLUMNS FROM show_t1") == desc

    assert ("public",) in rw.fetch("SHOW SCHEMAS")
    rw.execute("DROP MATERIALIZED VIEW show_mv1")
    rw.execute("DROP TABLE show_t1")


def test_alter_add_column_evolves_table_and_changelog(rw):
    rw.execute("DROP TABLE IF EXISTS alter_t1")
    rw.execute("CREATE TABLE alter_t1 (a INT)")
    rw.insert_row("alter_t1", force_flush=True, a=1)
    rw.execute("ALTER TABLE alter_t1 ADD COLUMN b STRING")
    # old rows read NULL for the new column; new inserts carry it
    rw.insert_row("alter_t1", force_flush=True, a=2, b="x")
    got = sorted(rw.fetch("SELECT a, b FROM alter_t1"))
    assert got == [(1, None), (2, "x")]
    # changelog evolved too, and the rw_timestamp-last contract holds
    rw.execute("CREATE SUBSCRIPTION alter_sub FROM alter_t1 WITH (retention='86400s')")
    rw.execute("DECLARE alter_cur subscription cursor for alter_sub SINCE 0")
    cols, rows = rw.engine.fetch_cursor("alter_cur", 100)
    assert cols[-2:] == ["op", "rw_timestamp"]
    assert cols[:2] == ["a", "b"]
    by_a = {r[0]: r for r in rows}
    assert by_a[1][1] is None and by_a[2][1] == "x"
    rw.execute("DROP SUBSCRIPTION alter_sub")
    rw.execute("DROP TABLE alter_t1")


def test_alter_drop_column_and_rename(rw):
    rw.execute("DROP TABLE IF EXISTS alter_t2")
    rw.execute("DROP TABLE IF EXISTS alter_t3")
    rw.execute("CREATE TABLE alter_t2 (a INT, junk STRING)")
    rw.insert_row("alter_t2", force_flush=True, a=1, junk="z")
    rw.execute("ALTER TABLE alter_t2 DROP COLUMN junk")
    assert rw.fetch("SELECT * FROM alter_t2") == [(1,)]
    with pytest.raises(Exception):
        rw.execute("ALTER TABLE alter_t2 DROP COLUMN nope")

    rw.execute("ALTER TABLE alter_t2 RENAME TO alter_t3")
    assert rw.fetch("SELECT * FROM alter_t3") == [(1,)]
    assert not rw.check_exist("alter_t2")
    # the renamed table is fully live: inserts + changelog still work
    rw.insert_row("alter_t3", force_flush=True, a=2)
    assert sorted(rw.fetch("SELECT a FROM alter_t3")) == [(1,), (2,)]
    rw.execute("DROP TABLE alter_t3")


def test_json_arrow_operators(rw):
    rw.execute("DROP TABLE IF EXISTS json_t1")
    rw.insert(
        pd.DataFrame({"id": [1, 2], "doc": [
            '{"a": {"b": 7, "tags": ["x", "y"]}, "s": "hi"}',
            '{"a": {"b": 8, "tags": ["z"]}, "s": "yo"}',
        ]}),
        table_name="json_t1", force_flush=True,
    )
    got = sorted(rw.fetch(
        "SELECT id, doc ->> 's' AS s, doc -> 'a' ->> 'b' AS b, "
        "doc -> 'a' -> 'tags' ->> 0 AS t0 FROM json_t1"
    ))
    assert got == [(1, "hi", "7", "x"), (2, "yo", "8", "z")]
    # lambda arrows must NOT be rewritten
    assert rw.fetchone("SELECT transform(array(1, 2), x -> x + 1) AS a")[0] == [2, 3]
    rw.execute("DROP TABLE json_t1")


def test_explain_returns_plan_rows(rw):
    rw.execute("DROP TABLE IF EXISTS exp_t1")
    rw.execute("CREATE TABLE exp_t1 (a INT)")
    rows = rw.fetch("EXPLAIN SELECT a, count(*) FROM exp_t1 GROUP BY a")
    text = "\n".join(r[0] for r in rows)
    assert "Physical Plan" in text and "exp_t1" in text
    # EXPLAIN CREATE MATERIALIZED VIEW explains the defining query
    rows2 = rw.fetch(
        "EXPLAIN CREATE MATERIALIZED VIEW exp_mv AS SELECT count(*) AS n FROM exp_t1")
    assert "Physical Plan" in "\n".join(r[0] for r in rows2)
    rw.execute("DROP TABLE exp_t1")


def test_show_functions_sources_sinks_subscriptions(rw):
    rw.register_udf("show_fn_probe", lambda x: x, "INT")
    assert ("show_fn_probe",) in rw.fetch("SHOW FUNCTIONS")
    assert rw.fetch("SHOW SOURCES") is not None
    assert rw.fetch("SHOW SINKS") is not None
    assert rw.fetch("SHOW SUBSCRIPTIONS") is not None


def test_create_index_clusters_and_preserves_data(rw):
    import pandas as pd
    rw.execute("DROP TABLE IF EXISTS idx_t1")
    rw.insert(pd.DataFrame({"k": [5, 1, 9, 3, 7], "v": list("abcde")}),
              table_name="idx_t1", force_flush=True)
    before = sorted(rw.fetch("SELECT k, v FROM idx_t1"))
    rw.execute("CREATE INDEX idx_t1_k ON idx_t1 (k)")
    assert sorted(rw.fetch("SELECT k, v FROM idx_t1")) == before  # data intact
    assert rw.fetch("SHOW INDEXES FROM idx_t1") == [("idx_t1_k", "k")]
    rw.execute("CREATE INDEX IF NOT EXISTS idx_t1_k ON idx_t1 (k)")  # idempotent
    with pytest.raises(Exception):
        rw.execute("CREATE INDEX bad_idx ON idx_t1 (nope)")
    rw.execute("DROP INDEX idx_t1_k")
    assert rw.fetch("SHOW INDEXES FROM idx_t1") == []
    rw.execute("DROP TABLE idx_t1")


def test_show_create(rw):
    rw.execute("DROP TABLE IF EXISTS t_cat_sc")
    rw.execute(
        "CREATE TABLE t_cat_sc (k INT PRIMARY KEY, v VARCHAR, ver BIGINT) "
        "ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(ver)"
    )
    rows = rw.fetch("SHOW CREATE TABLE t_cat_sc")
    assert rows[0][0] == "public.t_cat_sc"
    ddl = rows[0][1]
    assert ddl.startswith("CREATE TABLE public.t_cat_sc (")
    assert "PRIMARY KEY (k)" in ddl and "VERSION COLUMN(ver)" in ddl

    rw.execute("DROP MATERIALIZED VIEW IF EXISTS mv_cat_sc")
    rw.execute(
        "CREATE MATERIALIZED VIEW mv_cat_sc AS "
        "SELECT k, count(*) AS n FROM t_cat_sc GROUP BY k"
    )
    rows = rw.fetch("SHOW CREATE MATERIALIZED VIEW mv_cat_sc")
    assert rows[0][1].startswith("CREATE MATERIALIZED VIEW public.mv_cat_sc AS")
    assert "GROUP BY k" in rows[0][1]

    rw.execute("DROP MATERIALIZED VIEW mv_cat_sc")
    rw.execute("DROP TABLE t_cat_sc")


def test_explain_analyze_reports_runtime_metrics(rw):
    rw.execute("DROP TABLE IF EXISTS t_cat_ea")
    rw.insert(
        pd.DataFrame({"k": [1, 2, 2, 3], "v": [1.0, 2.0, 3.0, 4.0]}),
        table_name="t_cat_ea",
        force_flush=True,
    )
    rows = rw.fetch("EXPLAIN ANALYZE SELECT k, sum(v) AS s FROM t_cat_ea GROUP BY k")
    text = "\n".join(r[0] for r in rows)
    # the plan ran: per-operator metrics are populated
    assert "numOutputRows=" in text
    assert "HashAggregate" in text and "Scan parquet" in text
    # plain EXPLAIN still returns the unexecuted plan
    plain = "\n".join(
        r[0] for r in rw.fetch("EXPLAIN SELECT k FROM t_cat_ea")
    )
    assert "numOutputRows=" not in plain
    rw.execute("DROP TABLE t_cat_ea")


def test_alter_mv_rename(rw, spark):
    """Rename and drop with the direct (driver-side) refresh armed:
    every result equals its recompute, and no superseded generation
    dir of either name outlives the DROP."""
    mv_sql = "SELECT k, sum(v) AS s FROM t_cat_mvr GROUP BY k"

    def assert_recomputed(mv):
        assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == sorted(
            rw.fetch(mv_sql)
        )

    def generation_dirs():
        db_dir = os.path.join(
            re.sub(r"^file:", "", spark.conf.get("spark.sql.warehouse.dir")),
            "public.db",
        )
        return [d for d in os.listdir(db_dir)
                if d.startswith("mv_cat_r") and "__rwgen_" in d]

    rw.execute("DROP TABLE IF EXISTS t_cat_mvr")
    rw.insert(pd.DataFrame({"k": [1, 1, 2], "v": [1.0, 2.0, 3.0]}),
              table_name="t_cat_mvr", force_flush=True)
    rw.execute("DROP MATERIALIZED VIEW IF EXISTS mv_cat_r1")
    rw.execute(f"CREATE MATERIALIZED VIEW mv_cat_r1 AS {mv_sql}")
    assert rw.engine.mvs["public.mv_cat_r1"].inc_direct is not None
    for v in (1.0, 2.0):  # two direct refreshes: one generation retained
        rw.insert_row("t_cat_mvr", force_flush=True, k=3, v=v)
    assert generation_dirs()
    rw.execute("ALTER MATERIALIZED VIEW mv_cat_r1 RENAME TO mv_cat_r2")
    assert not rw.check_exist("mv_cat_r1")
    assert sorted(rw.fetch("SELECT * FROM mv_cat_r2")) == [
        (1, 3.0), (2, 3.0), (3, 3.0)
    ]
    # the renamed MV still refreshes on flush, on the direct path too
    rw.insert(pd.DataFrame({"k": [2], "v": [7.0]}),
              table_name="t_cat_mvr", force_flush=True)
    assert sorted(rw.fetch("SELECT * FROM mv_cat_r2")) == [
        (1, 3.0), (2, 10.0), (3, 3.0)
    ]
    rw.insert_row("t_cat_mvr", force_flush=True, k=1, v=4.0)
    assert rw.engine.mvs["public.mv_cat_r2"].inc_direct is not None
    assert_recomputed("mv_cat_r2")
    rw.execute("DROP MATERIALIZED VIEW mv_cat_r2")
    assert generation_dirs() == []
    # a new MV under the old name starts clean and refreshes directly
    rw.execute(f"CREATE MATERIALIZED VIEW mv_cat_r1 AS {mv_sql}")
    for v in (5.0, 6.0):
        rw.insert_row("t_cat_mvr", force_flush=True, k=4, v=v)
    assert rw.engine.mvs["public.mv_cat_r1"].inc_direct is not None
    assert_recomputed("mv_cat_r1")
    rw.execute("DROP MATERIALIZED VIEW mv_cat_r1")
    assert generation_dirs() == []
    rw.execute("DROP TABLE t_cat_mvr")


def test_session_variables(rw, spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        rw.execute("SET TIME ZONE 'America/New_York'")
        assert rw.fetch("SHOW TIME ZONE") == [("America/New_York",)]
        rw.execute("SET timezone TO 'UTC'")
        assert rw.fetch("SHOW timezone") == [("UTC",)]
        rw.execute("SET application_name TO 'curator'")
        assert rw.fetch("SHOW application_name") == [("curator",)]
        with pytest.raises(Exception, match="unrecognized"):
            rw.fetch("SHOW no_such_variable")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_plain_view_passthrough(rw):
    """Non-materialized CREATE VIEW passes through to Spark and stays
    out of SHOW TABLES (views aren't tables)."""
    rw.execute("DROP TABLE IF EXISTS t_cat_pv")
    rw.insert(pd.DataFrame({"k": [1, 2]}), table_name="t_cat_pv", force_flush=True)
    rw.execute("CREATE VIEW v_cat_pv AS SELECT k * 10 AS k10 FROM t_cat_pv")
    assert sorted(rw.fetch("SELECT * FROM v_cat_pv")) == [(10,), (20,)]
    assert ("v_cat_pv",) not in rw.fetch("SHOW TABLES")
    rw.execute("DROP VIEW v_cat_pv")
    rw.execute("DROP TABLE t_cat_pv")
