"""Value model, content hashing, job memoization — reference semantics
(SURVEY §1.1, §4): dedup-by-hash, value_id/data_hash cache strategies,
non-idempotent bypass."""

import os

import pytest

from kiara_spark.hashing import dataframe_content_hash, job_hash, manifest_hash
from kiara_spark.modules import InvalidInputsError


def test_manifest_hash_is_order_insensitive():
    a = manifest_hash("table.join", {"how": "inner", "on": ["k"]})
    b = manifest_hash("table.join", {"on": ["k"], "how": "inner"})
    assert a == b
    assert a != manifest_hash("table.join", {"how": "left", "on": ["k"]})


def test_job_hash_depends_on_inputs():
    h1 = job_hash("m", {}, {"x": "v1"})
    h2 = job_hash("m", {}, {"x": "v2"})
    assert h1 != h2


def test_dataframe_content_hash_partition_invariant(spark):
    df = spark.range(0, 1000).selectExpr("id", "id * 2 as dbl", "cast(id as string) as s")
    h1 = dataframe_content_hash(df)
    h2 = dataframe_content_hash(df.repartition(7))
    h3 = dataframe_content_hash(df.orderBy("dbl"))
    assert h1 == h2 == h3
    h4 = dataframe_content_hash(df.filter("id < 999"))
    assert h4 != h1


def test_value_registration_and_alias(ctx, tables):
    v = ctx.get_value("alias:lineitem")
    assert v.data_type == "table"
    assert ctx.get_value("lineitem").value_id == v.value_id
    assert ctx.get_value(f"value:{v.value_id}").value_id == v.value_id


def test_cache_hit_on_same_inputs(ctx, tables):
    li = ctx.get_value("lineitem")
    m1 = ctx.create_module("table.limit")
    bound = ctx._bind_inputs(m1, {"table": li, "n": 7})
    r1 = ctx.job_registry.execute_job(m1, bound)
    r2 = ctx.job_registry.execute_job(ctx.create_module("table.limit"), bound)
    assert not r1.cache_hit and r2.cache_hit
    assert r2.outputs["table"].value_id == r1.outputs["table"].value_id


def test_non_idempotent_bypasses_cache(ctx):
    m = ctx.create_module("import.local.file")
    bound = ctx._bind_inputs(m, {"path": "/root/testdata/sf0.001/region.parquet"})
    r1 = ctx.job_registry.execute_job(m, bound)
    r2 = ctx.job_registry.execute_job(ctx.create_module("import.local.file"), bound)
    assert not r1.cache_hit and not r2.cache_hit


def test_invalid_inputs_names_fields(ctx):
    m = ctx.create_module("logic.and")
    with pytest.raises(InvalidInputsError) as exc:
        m.run(ctx._bind_inputs(m, {"a": True}), ctx)
    assert "b" in exc.value.invalid


def test_boolean_parsing_like_reference(ctx):
    out = ctx.run_job("logic.and", {"a": "true", "b": 1})
    assert out["y"].data is True
    out = ctx.run_job("logic.and", {"a": "false", "b": True})
    assert out["y"].data is False


def test_pedigree_and_lineage(ctx, tables):
    out = ctx.run_job("table.filter.rows",
                      {"table": ctx.get_value("orders"), "where": "o_totalprice > 100"})
    v = out["table"]
    assert v.pedigree.module_type == "table.filter.rows"
    tree = ctx.data_registry.lineage(v)
    assert tree["module"] == "table.filter.rows"
    assert "table" in tree["inputs"]


def test_store_value_roundtrip_and_dedup(ctx, spark, tmp_path):
    df = spark.range(0, 50).selectExpr("id", "id % 5 as g")
    v1 = ctx.register_table(df)
    p1 = ctx.data_registry.store_value(v1, alias="stored_one")
    v2 = ctx.register_table(spark.range(0, 50).selectExpr("id", "id % 5 as g"))
    p2 = ctx.data_registry.store_value(v2)
    assert p1 == p2  # deduped by content hash
    loaded = ctx.data_registry.load_value(p1)
    assert loaded.data.count() == 50


def test_extract_metadata_profile(ctx, tables):
    out = ctx.run_job("value.extract_metadata", {"value": ctx.get_value("region")})
    meta = out["value_metadata"].data
    assert meta["rows"] == 5
    assert meta["columns"]["r_regionkey"]["nulls"] == 0


# -- destinies / properties (reference data/__init__.py:693-820) ------------


def test_destiny_resolve_attaches_property_no_rerun(ctx, tables):
    """Register a metadata-extraction destiny, resolve it, then re-fetch the
    value and read the property back — without executing the job again."""
    reg = ctx.data_registry
    v = ctx.get_value("alias:nation")
    reg.register_destiny(v, "metadata", "extract.table.metadata")
    assert reg.destiny_aliases(v) == ["metadata"]

    result = reg.resolve_destiny(v, "metadata")
    assert result.data["rows"] == 25

    # re-fetch the SAME value from the registry: property is attached
    v2 = ctx.get_value(f"value:{v.value_id}")
    assert v2.property_names == ["metadata"]
    n_jobs_before = len([r for r in ctx.job_registry.history if not r.cache_hit])
    prop = reg.get_property_value(v2, "metadata")
    assert prop.value_id == result.value_id
    assert prop.data["rows"] == 25
    # resolve again: cached result id short-circuits, no new execution
    again = reg.resolve_destiny(v, "metadata")
    assert again.value_id == result.value_id
    n_jobs_after = len([r for r in ctx.job_registry.history if not r.cache_hit])
    assert n_jobs_after == n_jobs_before
    # origin backlink recorded on the derived value
    assert result.destiny_backlinks == {v.value_id: "metadata"}


def test_destiny_duplicate_alias_rejected(ctx, tables):
    reg = ctx.data_registry
    v = ctx.get_value("alias:region")
    reg.register_destiny(v, "meta2", "extract.table.metadata")
    with pytest.raises(ValueError, match="duplicate destiny"):
        reg.register_destiny(v, "meta2", "extract.table.metadata")


def test_property_immutable_once_attached(ctx, tables):
    from kiara_spark.values import Value, ValueSchema

    a = Value(data=1, schema=ValueSchema(type="integer"))
    b = Value(data=2, schema=ValueSchema(type="integer"))
    a.add_property(b, "twin")
    with pytest.raises(ValueError, match="already set"):
        a.add_property(b, "twin")


# -- value matchers (reference models/values/matchers.py:14-69) -------------


def test_find_values_by_type_and_alias(ctx, tables):
    reg = ctx.data_registry
    found = reg.find_values(data_types="table", alias_matchers="nat*")
    assert [a for a in ("nation",) if any(
        reg.aliases.get("nation") == vid for vid in found)]
    # scalar values don't match type=table
    sv = reg.register_data(42, data_type="integer")
    assert sv.value_id not in reg.find_values(data_types="table")
    # has_alias excludes the anonymous scalar
    assert sv.value_id not in reg.find_values(has_alias=True)


def test_find_values_size_bounds(ctx, tables):
    reg = ctx.data_registry
    lineitem = ctx.get_value("alias:lineitem")
    region = ctx.get_value("alias:region")
    big = reg.value_size(lineitem)
    small = reg.value_size(region)
    assert big > small > 0
    found = reg.find_values(data_types="table", min_size=small + 1)
    assert lineitem.value_id in found
    assert region.value_id not in found
    capped = reg.find_values(data_types="table", max_size=small)
    assert region.value_id in capped
    assert lineitem.value_id not in capped


def test_job_environment_fingerprint(ctx, tables):
    """Job records capture the full runtime environment (python, packages,
    OS, spark) + a stable hash — reference runtime_environment models."""
    ctx.run_job("logic.and", {"a": True, "b": True})
    rec = [r for r in ctx.job_registry.history if not r.cache_hit][-1]
    env = rec.environment
    assert env["python"] and env["pyspark"]
    assert "numpy" in env["packages"] and "pandas" in env["packages"]
    assert env["os"]["system"] == "Linux"
    assert env["spark"]["version"] and env["spark"]["java"]
    assert len(env["environment_hash"]) >= 16
    # the FULL installed-distribution set is captured (reference
    # PythonRuntimeEnvironment), not just the hard dependencies
    assert "pyspark" in env["packages"] and len(env["packages"]) > 4
    assert len(env["packages_hash"]) >= 16


def test_data_hash_cache_key_binds_package_set(spark, tmp_path, monkeypatch):
    """Deep (data_hash) cache keys must change when the installed-package
    set drifts — a dependency upgrade may change what an operator computes,
    and a restart-surviving stale hit would silently serve the old answer."""
    from kiara_spark import KiaraContext
    from kiara_spark.registries.jobs import JobRegistry

    ctx = KiaraContext(spark=spark, base_path=str(tmp_path),
                       cache_strategy="data_hash")
    ctx.run_job("logic.and", {"a": True, "b": True})
    rec1 = ctx.job_registry.history[-1]
    assert not rec1.cache_hit
    # same inputs, same env: hit
    ctx.run_job("logic.and", {"a": True, "b": True})
    assert ctx.job_registry.history[-1].cache_hit
    # drift the package set: the key changes, so the job re-executes
    drifted = dict(JobRegistry._installed_packages())
    k = sorted(drifted)[0]
    drifted[k] = (drifted[k] or "0") + ".post1"
    monkeypatch.setattr(JobRegistry, "_installed_packages",
                        staticmethod(lambda: drifted))
    monkeypatch.setattr(ctx.job_registry, "_env_cache", None)
    ctx.run_job("logic.and", {"a": True, "b": True})
    rec3 = ctx.job_registry.history[-1]
    assert not rec3.cache_hit
    assert rec3.job_hash != rec1.job_hash


def test_environment_hash_changes_on_package_drift(ctx, monkeypatch):
    """r2 verdict task 7: the packages hash must invalidate when a tracked
    package version changes, so data_hash memoization can detect
    dependency drift across restarts."""
    from kiara_spark.hashing import hash_obj
    from kiara_spark.registries.jobs import JobRegistry

    reg = ctx.job_registry
    base = reg._environment()
    drifted = dict(JobRegistry._installed_packages())
    assert drifted, "package scan came back empty"
    k = sorted(drifted)[0]
    drifted[k] = (drifted[k] or "0") + ".post1"
    monkeypatch.setattr(JobRegistry, "_installed_packages",
                        staticmethod(lambda: drifted))
    monkeypatch.setattr(reg, "_env_cache", None)
    moved = reg._environment()
    assert moved["packages_hash"] != base["packages_hash"]
    assert moved["environment_hash"] != base["environment_hash"]
    assert base["packages_hash"] == hash_obj(base["packages"])


def test_property_links_survive_store_load(spark, tmp_path):
    """property_links round-trip through the warehouse sidecar."""
    from kiara_spark import KiaraContext

    ctx1 = KiaraContext(spark=spark, base_path=str(tmp_path))
    df = spark.createDataFrame([(1, "x")], "k int, v string")
    v = ctx1.register_table(df, alias="t")
    ctx1.data_registry.register_destiny(v, "metadata", "extract.table.metadata")
    ctx1.data_registry.resolve_destiny(v, "metadata")
    path = ctx1.store_value(v)

    ctx2 = KiaraContext(spark=spark, base_path=str(tmp_path))
    v2 = ctx2.data_registry.load_value(path)
    assert v2.property_names == ["metadata"]
    assert v2.property_links == v.property_links


def test_torn_job_store_is_quarantined(spark, tmp_path, caplog):
    """A truncated ``job_records.json`` (a crash mid-write) must not make
    every later context on that home raise: it is moved aside with a
    warning and the next context starts from an empty store."""
    import json
    import logging

    from kiara_spark import KiaraContext

    ctx1 = KiaraContext(spark=spark, base_path=str(tmp_path))
    ctx1.run_job("logic.and", {"a": True, "b": True})
    ctx1.job_registry.persist_record(ctx1.job_registry.history[-1])
    store = tmp_path / "job_records.json"
    assert json.loads(store.read_text())
    assert not (tmp_path / "job_records.json.tmp").exists()
    torn = store.read_text()[:10]
    store.write_text(torn)

    with caplog.at_level(logging.WARNING, logger="kiara_spark.registries.jobs"):
        ctx2 = KiaraContext(spark=spark, base_path=str(tmp_path))
    assert ctx2.job_registry._stored == {}
    assert (tmp_path / "job_records.json.corrupt").read_text() == torn
    assert not store.exists()
    assert "corrupt" in caplog.text

    ctx2.run_job("logic.and", {"a": True, "b": False})
    ctx2.job_registry.persist_record(ctx2.job_registry.history[-1])
    ctx3 = KiaraContext(spark=spark, base_path=str(tmp_path))
    assert ctx3.job_registry._stored == ctx2.job_registry._stored != {}


# -- per-DataFrame page memo (kiara_spark.io) ------------------------------------

def _spark_jobs(spark, fn):
    """``(fn(), ids of the Spark jobs fn ran)``.  Job starts reach the
    status tracker through the asynchronous listener bus, so the ids are
    read once a barrier job, run after ``fn``, is visible."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"memo-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        result = fn()
        sc.setJobGroup(group + "-barrier", "barrier")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-barrier"):
        assert time.monotonic() < deadline, "listener bus never caught up"
        time.sleep(0.05)
    return result, list(tracker.getJobIdsForGroup(group))


def _rows(lo, hi):
    return [{"id": str(i), "s": f"v{i * 2}"} for i in range(lo, hi)]


@pytest.fixture
def frame(spark):
    return spark.range(3000).selectExpr("id", "concat('v', id * 2) as s")


def test_repeat_page_runs_no_spark_job(spark, frame):
    from kiara_spark.io import collect_table_page, show_string

    first, miss_jobs = _spark_jobs(spark, lambda: collect_table_page(frame, 0, 20))
    again, hit_jobs = _spark_jobs(spark, lambda: collect_table_page(frame, 0, 20))
    assert miss_jobs and hit_jobs == []
    assert again == first == {"columns": ["id", "s"], "rows": _rows(0, 20)}

    text, miss_jobs = _spark_jobs(spark, lambda: show_string(frame))
    again, hit_jobs = _spark_jobs(spark, lambda: show_string(frame))
    assert miss_jobs and hit_jobs == []
    assert again == text == frame._show_string(20, 40, False)
    assert show_string(["not", "a", "frame"]) == repr(["not", "a", "frame"])


def test_page_memo_keys_on_offset_and_limit(frame):
    from kiara_spark.io import collect_table_page

    for offset, limit in [(0, 5), (5, 5), (3, 10), (0, 5), (2995, 10)]:
        page = collect_table_page(frame, offset, limit)
        assert page["rows"] == _rows(offset, min(offset + limit, 3000))


def test_page_memo_returns_copies(frame):
    from kiara_spark.io import collect_table_page

    page = collect_table_page(frame, 0, 3)
    page["columns"].append("x")
    page["rows"][0]["s"] = "changed"
    page["rows"].append({})
    assert collect_table_page(frame, 0, 3) == {"columns": ["id", "s"],
                                                "rows": _rows(0, 3)}


def test_page_memo_entry_dies_with_its_frame(spark):
    import gc
    import weakref

    from kiara_spark import io

    df = spark.range(10).selectExpr("id", "concat('v', id * 2) as s")
    io.collect_table_page(df, 0, 5)
    assert df in io._page_memo
    before = len(io._page_memo)
    ref = weakref.ref(df)
    del df
    gc.collect()
    assert ref() is None
    assert len(io._page_memo) < before


def test_page_memo_evicts_oldest_past_row_cap(spark, frame):
    from kiara_spark import io

    assert io.PAGE_MEMO_ROWS == 1000
    for offset in (0, 400, 800):
        io.collect_table_page(frame, offset, 400)
    # 1,200 rows > 1,000: the first page went
    assert list(io._page_memo[frame]) == [("page", 400, 400), ("page", 800, 400)]
    page, jobs = _spark_jobs(spark, lambda: io.collect_table_page(frame, 0, 400))
    assert jobs and page["rows"] == _rows(0, 400)
    assert list(io._page_memo[frame]) == [("page", 800, 400), ("page", 0, 400)]
    # a page over the cap is returned but not kept
    big = io.collect_table_page(frame, 0, 1500)
    assert big["rows"] == _rows(0, 1500)
    assert ("page", 0, 1500) not in io._page_memo[frame]


def test_page_memo_keeps_nothing_when_the_page_raises(spark):
    from kiara_spark import io

    df = spark.range(3).selectExpr("raise_error(concat('boom ', id)) as x")
    with pytest.raises(Exception, match="boom"):
        io.collect_table_page(df, 0, 3)
    assert df not in io._page_memo


# -- one-pass save (DataRegistry.store_value) ------------------------------------

@pytest.fixture
def home_ctx(spark, tmp_path):
    from kiara_spark import KiaraContext

    return KiaraContext(spark=spark, base_path=str(tmp_path))


def _crafted_frames(spark):
    """Frames over every column shape the row hash must see through."""
    from pyspark.sql import functions as F

    return {
        "empty": spark.range(0).selectExpr("id", "cast(id as string) as s"),
        "nulls": spark.createDataFrame(
            [(1, None, "a"), (None, 2.5, None), (None, None, None)],
            "a bigint, b double, c string"),
        "decimals": spark.range(200).selectExpr(
            "cast(id * 1234567.891 as decimal(20,3)) as d",
            "cast(id as decimal(38,0)) * 99999999999999999 as big"),
        "timestamps": spark.range(50).selectExpr(
            "timestamp_seconds(id * 86401) as ts", "date_add('2020-02-28', cast(id as int)) as d"),
        "nested": spark.range(30).select(
            F.col("id"),
            F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
            F.create_map(F.col("id").cast("string"), F.col("id") * 2).alias("m"),
            F.struct(F.col("id").alias("x"),
                     F.lit("y").alias("y")).alias("st")),
        "multi_partition": spark.range(0, 5000, numPartitions=7).selectExpr(
            "id", "id % 13 as g", "sha2(cast(id as string), 256) as h"),
    }


def test_store_value_never_runs_a_hashing_scan(home_ctx, spark, monkeypatch):
    """The content hash comes from the write itself: neither a direct store
    nor a ``run_job(save=...)`` calls ``dataframe_content_hash``."""
    import kiara_spark.hashing as hashing

    def scan(df):
        raise AssertionError("store_value ran a hashing scan")

    monkeypatch.setattr(hashing, "dataframe_content_hash", scan)
    v = home_ctx.register_table(spark.range(100).selectExpr("id", "id % 3 as g"))
    home_ctx.data_registry.store_value(v)
    assert v._content_hash in home_ctx.data_registry._hash_index
    out = home_ctx.run_job("table.query.sql", {
        "table": v, "query": "SELECT g, count(*) AS n FROM data GROUP BY g"},
        save="counts")
    assert out["table"].content_hash() in home_ctx.data_registry._hash_index


def test_one_pass_hash_equals_the_scan_hash(home_ctx, spark):
    """Bit-identical to ``dataframe_content_hash``, so warehouses written
    before the one-pass save keep deduplicating."""
    for name, df in _crafted_frames(spark).items():
        expected = dataframe_content_hash(df)
        v = home_ctx.register_table(df)
        home_ctx.data_registry.store_value(v)
        assert v.content_hash() == expected, name


def test_failing_store_leaves_nothing_behind(home_ctx, spark):
    """A plan that raises mid-write makes ``store_value`` raise (it must not
    wait for metrics that never come) and leaves no dataset, staging
    directory or hash-index entry."""
    from pyspark.sql import functions as F

    reg = home_ctx.data_registry
    df = spark.range(100).withColumn(
        "z", F.when(F.col("id") == 57, F.raise_error(F.lit("boom")))
        .otherwise(F.lit(1)))
    before = sorted(os.listdir(reg.warehouse_path))
    index = dict(reg._hash_index)
    v = home_ctx.register_table(df)
    with pytest.raises(Exception, match="boom"):
        reg.store_value(v)
    assert sorted(os.listdir(reg.warehouse_path)) == before
    assert reg._hash_index == index
    assert v._content_hash is None


def test_saved_output_reads_its_stored_files(home_ctx, tables):
    """After ``run_job(save=...)`` the output's plan scans the warehouse
    dataset, not the tables it was computed from."""
    home_ctx.register_table(tables["orders"].data, alias="orders")
    out = home_ctx.run_job("table.query.sql", {
        "table": home_ctx.get_value("orders"),
        "query": "SELECT o_orderstatus, count(*) AS n FROM data GROUP BY 1"},
        save="by_status")
    path = home_ctx.data_registry._stored_aliases["by_status"]
    files = out["table"].data.inputFiles()
    assert files and all(f"{path}/part-" in f for f in files)
    assert out["table"].data.count() == 3


def test_dedup_hit_never_changes_a_value(home_ctx, spark):
    """The hash ignores row and column order, so a dedup hit may be stored
    in another row order or with its columns in another order: such a
    value keeps its own plan.  An unordered value with the stored columns
    is served from the stored files."""
    reg = home_ctx.data_registry
    df = spark.range(300, numPartitions=3).selectExpr("id", "id % 7 as g")
    p1 = reg.store_value(home_ctx.register_table(df.orderBy("id")))
    desc_df = df.orderBy(df.id.desc())
    swapped_df = df.select("g", "id")
    desc = home_ctx.register_table(desc_df)
    swapped = home_ctx.register_table(swapped_df)
    plain = home_ctx.register_table(df)
    assert (reg.store_value(desc) == reg.store_value(swapped)
            == reg.store_value(plain) == p1)
    assert desc.data is desc_df and swapped.data is swapped_df
    assert desc.data.first()["id"] == 299
    assert swapped.data.columns == ["g", "id"]
    assert plain.data is not df
    assert all(f"{p1}/part-" in f for f in plain.data.inputFiles())


def test_stored_ordered_value_reads_back_in_order(home_ctx, spark):
    """A globally sorted value written as several part files must read back
    in order, both right after the save and in a new context.  Later rows
    carry longer payloads, so the last files are the largest: a single scan
    packs files largest-first and would start from them."""
    from kiara_spark import KiaraContext

    conf = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(conf)
    df = spark.range(400).selectExpr(
        "id",
        "concat_ws('', transform(sequence(0, cast(id / 4 as int)), "
        "i -> sha2(cast(id * 1000 + i as string), 256))) as pad",
    ).orderBy("id")
    v = home_ctx.register_table(df)
    spark.conf.set(conf, "100")
    try:
        path = home_ctx.store_value(v, alias="sorted")
    finally:
        spark.conf.set(conf, old)
    assert len([f for f in os.listdir(path) if f.startswith("part-")]) > 1
    expected = list(range(400))
    assert [r.id for r in v.data.select("id").collect()] == expected
    ctx2 = KiaraContext(spark=spark, base_path=home_ctx.base_path)
    loaded = ctx2.get_value("alias:sorted")
    assert [r.id for r in loaded.data.select("id").collect()] == expected


def test_loaded_value_keeps_its_stored_hash(home_ctx, spark):
    """A value loaded from the warehouse carries its sidecar's hash:
    ``content_hash`` runs no Spark job."""
    from kiara_spark import KiaraContext

    v = home_ctx.register_table(spark.range(40).selectExpr("id", "id * 3 as t"))
    home_ctx.store_value(v, alias="kept")
    ctx2 = KiaraContext(spark=spark, base_path=home_ctx.base_path)
    loaded = ctx2.get_value("alias:kept")
    h, jobs = _spark_jobs(spark, loaded.content_hash)
    assert h == v.content_hash()
    assert jobs == []


def test_torn_alias_store_and_sidecar_are_quarantined(home_ctx, spark, caplog):
    """A truncated ``_aliases.json`` or value sidecar must not stop a
    context from starting: each is moved aside with a warning, and the
    other stored values still load."""
    import logging

    from kiara_spark import KiaraContext

    reg = home_ctx.data_registry
    torn_v = home_ctx.register_table(spark.range(5).selectExpr("id"))
    kept_v = home_ctx.register_table(spark.range(9).selectExpr("id"))
    torn_path = home_ctx.store_value(torn_v, alias="torn")
    home_ctx.store_value(kept_v, alias="kept")
    aliases = os.path.join(reg.warehouse_path, "_aliases.json")
    sidecar = os.path.join(torn_path, "_kiara_value.json")
    for f in (aliases, sidecar):
        with open(f) as fh:
            text = fh.read()
        with open(f, "w") as fh:
            fh.write(text[:7])

    with caplog.at_level(logging.WARNING):
        ctx2 = KiaraContext(spark=spark, base_path=home_ctx.base_path)
    assert caplog.text.count("is corrupt") == 2
    assert os.path.isfile(aliases + ".corrupt")
    assert os.path.isfile(sidecar + ".corrupt")
    assert ctx2.data_registry._stored_aliases == {}
    assert ctx2.get_value(kept_v.value_id).data.count() == 9
    assert kept_v.content_hash() in ctx2.data_registry._hash_index
