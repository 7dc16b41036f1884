"""The ``ch_sql`` MergeTree path launches no Spark job before its action
except the part writes: each part's column list comes from its parquet
footer once per table object (never a schema-inference job), the
delete-mask sidecar has a fixed schema, and the catalog is listed only
for a real ``IN <table>`` form.  Also: the per-part schema memo stays
correct across ALTER ADD COLUMN, DETACH/ATTACH PARTITION, lightweight
DELETE and OPTIMIZE FINAL."""

import contextlib
import itertools

from clickhouse_core_spark.plans.frontend import _ensure_sql_udfs, ch_sql
from clickhouse_core_spark.sources import MergeTreeTable

_GROUPS = itertools.count()


@contextlib.contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs the block launches."""
    sc = spark.sparkContext
    tag = f"build-jobs-{next(_GROUPS)}"
    ids: list[int] = []
    sc.setJobGroup(tag, tag)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(tag))


def test_saved_part_schema_matches_inference(spark, tmp_path):
    t = MergeTreeTable(spark, str(tmp_path / "t"), order_by=["k"],
                       partition_by=["p"])
    part = t.insert(spark.sql(
        "SELECT id AS k, id % 3 AS p, CAST(id AS DECIMAL(9, 2)) AS d, "
        "CAST(id AS TIMESTAMP) AS ts, array(id) AS a, "
        "named_struct('x', id) AS s FROM range(6)"))
    inferred = spark.read.option("basePath", part).parquet(part)
    with _jobs(spark) as ids:
        saved = t._scan_part(part)
        schema = saved.schema
    assert ids == []
    assert part in t._part_schemas
    # the partition column is rediscovered from `p=N` (int, last)
    assert schema == inferred.schema
    assert schema.fieldNames()[-1] == "p"
    assert sorted(saved.collect()) == sorted(inferred.collect())


def _three_part_table(spark, tables, name):
    ch_sql(spark, f"CREATE TABLE {name} (k Int64, ver Int64, grp String, "
                  f"v Int64) ENGINE = ReplacingMergeTree(ver) "
                  f"PARTITION BY grp ORDER BY k", tables=tables)
    for b in range(2):
        ch_sql(spark, f"INSERT INTO {name} SELECT id AS k, {b} AS ver, "
                      f"concat('g', id % 3) AS grp, id * 10 + {b} AS v "
                      f"FROM range({b * 5}, {b * 5 + 10})", tables=tables)


def test_insert_refresh_runs_no_job_beyond_its_write(spark):
    tables: dict = {}
    _three_part_table(spark, tables, "bj_ins")
    t = tables["bj_ins"]
    write = t.insert
    after_write = {}

    def insert(df, *args, **kwargs):
        part = write(df, *args, **kwargs)
        after_write["jobs"] = len(
            spark.sparkContext.statusTracker().getJobIdsForGroup(
                spark.sparkContext.getLocalProperty("spark.jobGroup.id")))
        return part

    t.insert = insert
    with _jobs(spark) as ids:
        ch_sql(spark, "INSERT INTO bj_ins SELECT id AS k, 2 AS ver, "
                      "concat('g', id % 3) AS grp, id AS v "
                      "FROM range(8, 14)", tables=tables)
    assert len(t.parts()) == 3
    assert after_write["jobs"] >= 1            # the part write itself
    assert len(ids) == after_write["jobs"]     # refresh: no job at all
    assert set(t._part_schemas) == set(t.parts())


def test_final_in_list_read_builds_without_jobs(spark):
    tables: dict = {}
    _three_part_table(spark, tables, "bj_read")
    ch_sql(spark, "INSERT INTO bj_read SELECT id AS k, 2 AS ver, "
                  "concat('g', id % 3) AS grp, id AS v FROM range(8, 14)",
           tables=tables)
    with _jobs(spark) as ids:
        df = ch_sql(spark, "SELECT k, ver, v FROM bj_read FINAL "
                           "WHERE k IN (1, 2, 3) ORDER BY k",
                    tables=tables)
    assert ids == []
    assert [tuple(r) for r in df.collect()] == [
        (1, 0, 10), (2, 0, 20), (3, 0, 30)]


def test_in_table_forms_still_resolve(spark):
    tables: dict = {}
    _three_part_table(spark, tables, "bj_set")
    spark.range(0, 3).createOrReplaceTempView("bj_keys_view")
    ch_sql(spark, "CREATE TABLE bj_keys_mt (id Int64) ENGINE = MergeTree "
                  "ORDER BY id", tables=tables)
    ch_sql(spark, "INSERT INTO bj_keys_mt VALUES (12), (13), (14)",
           tables=tables)

    def keys(sql):
        return sorted(r[0] for r in ch_sql(spark, sql,
                                           tables=tables).collect())

    assert keys("SELECT k FROM bj_set FINAL WHERE k IN bj_keys_view") \
        == [0, 1, 2]
    assert keys("SELECT k FROM bj_set FINAL "
                "WHERE k NOT IN (bj_keys_view)") == list(range(3, 15))
    assert keys("SELECT k FROM bj_set FINAL WHERE k IN (bj_keys_mt)") \
        == [12, 13, 14]
    assert keys("SELECT k FROM bj_set FINAL WHERE k NOT IN bj_keys_mt") \
        == list(range(12))
    # a parenthesised single literal stays a literal
    assert keys("SELECT k FROM bj_set FINAL WHERE k IN (5)") == [5]


def test_sql_udfs_register_per_session_object(spark):
    fresh = spark.newSession()
    assert not getattr(fresh, "_ch_sql_udfs_registered", False)
    _ensure_sql_udfs(fresh)
    assert fresh._ch_sql_udfs_registered is True
    assert fresh.sql("SELECT __ch_type_name('int') AS t").first().t


def _final_reference(batches, detached, w_default):
    """ReplacingMergeTree(ver) FINAL by brute force: per key, the row of
    the highest ``ver`` (later inserts win ties) among rows neither
    deleted nor in a detached partition."""
    best = {}
    for rows in batches:
        for r in rows:
            r = dict(r)
            r.setdefault("w", w_default)
            if r["grp"] in detached or r.get("deleted"):
                continue
            if r["k"] not in best or r["ver"] >= best[r["k"]]["ver"]:
                best[r["k"]] = r
    return sorted((r["k"], r["ver"], r["grp"], r["v"], r["w"])
                  for r in best.values())


def test_part_schema_memo_across_schema_and_part_changes(spark):
    tables: dict = {}
    name = "bj_memo"
    ch_sql(spark, f"CREATE TABLE {name} (k Int64, ver Int64, grp String, "
                  f"v Int64) ENGINE = ReplacingMergeTree(ver) "
                  f"PARTITION BY grp ORDER BY k", tables=tables)
    t = tables[name]
    batches: list[list[dict]] = []
    state = {"detached": set(), "w": None}

    def insert(lo, hi, ver, with_w):
        rows = [{"k": k, "ver": ver, "grp": f"g{k % 3}", "v": k * ver}
                for k in range(lo, hi)]
        if with_w:
            for r in rows:
                r["w"] = r["k"] + 100
        cols = "k, ver, grp, v" + (", w" if with_w else "")
        values = ", ".join(
            "(" + ", ".join(repr(r[c.strip()]) for c in cols.split(","))
            + ")" for r in rows)
        ch_sql(spark, f"INSERT INTO {name} ({cols}) VALUES {values}",
               tables=tables)
        batches.append(rows)

    def check():
        assert set(t._part_schemas) <= set(t.parts())
        got = sorted(tuple(r) for r in ch_sql(
            spark, f"SELECT k, ver, grp, v, w FROM {name} FINAL",
            tables=tables).collect())
        assert got == _final_reference(batches, state["detached"],
                                       state["w"])

    insert(0, 12, 1, False)
    insert(6, 18, 2, False)
    ch_sql(spark, f"ALTER TABLE {name} ADD COLUMN w Int64 DEFAULT 7",
           tables=tables)
    state["w"] = 7
    check()
    insert(12, 24, 3, True)
    check()
    ch_sql(spark, f"ALTER TABLE {name} DETACH PARTITION 'g1'",
           tables=tables)
    state["detached"].add("g1")
    check()
    ch_sql(spark, f"ALTER TABLE {name} ATTACH PARTITION 'g1'",
           tables=tables)
    state["detached"].clear()
    check()
    ch_sql(spark, f"DELETE FROM {name} WHERE k % 5 = 0", tables=tables)
    for rows in batches:                      # rows inserted so far
        for r in rows:
            r["deleted"] = r["k"] % 5 == 0
    check()
    insert(20, 26, 4, True)
    check()
    ch_sql(spark, f"OPTIMIZE TABLE {name} FINAL", tables=tables)
    check()
    assert len(t.parts()) == 1
    assert set(t._part_schemas) == set(t.parts())
