"""session: local_df (driver-resident rows -> LocalRelation DataFrame)
and the session memo."""

import pyarrow as pa
import pytest

from gdal_boots_spark.session import local_df

CASES = {
    "empty": ([], "a long, b double, c string"),
    "nulls": ([(1, None, None), (None, 2.5, "x"), (None, None, None)], "a long, b double, c string"),
    "booleans": ([(True, 1), (False, 2), (None, 3)], "f boolean, i int"),
    "longs_above_2_53": ([(2**53 + 1,), (2**62 + 3,), (2**63 - 1,), (-(2**63),)], "v long"),
    "doubles": ([(0.1 + 0.2,), (-0.0,), (0.0,), (1e-300,), (float("inf"),)], "v double"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_df_matches_create_dataframe(spark, case):
    """Same schema (incl. nullability, JVM side) and the same collected
    rows as createDataFrame(list) — repr-compared, so -0.0 vs 0.0 and
    the last bit of 0.1 + 0.2 count — and the plan is a LocalRelation."""
    rows, schema = CASES[case]
    got = local_df(spark, rows, schema)
    exp = spark.createDataFrame(rows, schema)
    assert got._jdf.schema().json() == exp._jdf.schema().json()
    assert repr(got.collect()) == repr(exp.collect())
    assert got._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")


def test_local_df_rejects_mistyped_value(spark):
    """A value that does not fit its column raises instead of falling
    back to a slower conversion path."""
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        local_df(spark, [("not a number",)], "v long")


def test_read_parquet_memo_sees_overwrite(spark, tmp_path):
    """Overwriting a path in-session: read_parquet_memo returns the new
    rows, and an unchanged path is served from the memo."""
    from gdal_boots_spark.sources.synth import read_parquet_memo

    path = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "v long").write.parquet(path)
    first = read_parquet_memo(spark, path)
    assert read_parquet_memo(spark, path) is first
    assert [r["v"] for r in first.collect()] == [1]
    spark.createDataFrame([(2,), (3,)], "v long").write.mode("overwrite").parquet(path)
    assert sorted(r["v"] for r in read_parquet_memo(spark, path).collect()) == [2, 3]


def test_memo_evicts_oldest_first(spark, monkeypatch):
    """Past MEMO_ENTRIES the oldest entry goes first, through its own
    on_evict; a hit returns the stored object without rebuilding."""
    from gdal_boots_spark import session

    monkeypatch.setattr(session, "MEMO_ENTRIES", 2)
    evicted, built = [], []

    def put(k):
        return session.memo(spark, ("test_memo", k), lambda: built.append(k) or [k], evicted.append)

    a = put("a")
    put("b")
    assert put("a") is a and built == ["a", "b"]
    put("c")
    assert evicted == [["a"]]
    put("a")
    assert built == ["a", "b", "c", "a"] and evicted == [["a"], ["b"]]


def test_memo_threads_keep_bound_and_values(spark, monkeypatch):
    """Threads (more than cores) hammering a tiny memo: no call raises,
    every call returns its own key's value, the store ends within the
    bound, and every built value is either stored or evicted."""
    import sys
    import threading

    from gdal_boots_spark import session

    monkeypatch.setattr(session, "MEMO_ENTRIES", 4)
    built, evicted, errors = [], [], []

    def work(t):
        try:
            for i in range(300):
                k = (t + i) % 7
                v = session.memo(spark, ("test_threads", k), lambda: built.append(k) or (k,), evicted.append)
                assert v == (k,)
        except Exception as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    store = spark.sparkContext._gdal_boots_memo
    live = [k for k in store if k[0] == "test_threads"]
    assert len(store) <= 4
    assert len(built) == len(evicted) + len(live)


def test_no_module_level_cache_dicts():
    """Every memo goes through session.memo: no module in the package
    keeps its own module-level ``_*_CACHE`` dict."""
    import ast
    import pathlib
    import re

    import gdal_boots_spark

    root = pathlib.Path(gdal_boots_spark.__file__).parent
    found = []
    for f in sorted(root.rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            targets = node.targets if isinstance(node, ast.Assign) else [getattr(node, "target", None)]
            for t in targets:
                if isinstance(t, ast.Name) and re.fullmatch(r"_\w*_CACHE", t.id):
                    found.append(f"{f.relative_to(root)}:{t.id}")
    assert found == []
