"""dataRinse-analogue dataset→script index (`operators/datarinse.py`).

Reference semantics (`/root/reference/dataRinse/scripts/
python_process_csv.py:25-56`): >10-mention support filter, top-12
datasets, first-5 witness scripts.
"""

from graph4code_spark.operators.datarinse import dataset_script_index


def _mentions(spark, rows):
    return spark.createDataFrame(rows, "script string, ord long, line string")


def test_support_threshold_is_strictly_greater(spark):
    rows = []
    for i in range(11):  # exactly 11 mentions -> survives (> 10)
        rows.append((f"s{i}.py", i, f"x = pd.read_csv('data/keep.csv')"))
    for i in range(10):  # exactly 10 -> filtered
        rows.append((f"t{i}.py", 100 + i, f"x = pd.read_csv('drop.csv')"))
    out = dataset_script_index(_mentions(spark, rows), order_col="ord").collect()
    assert {r["csv"] for r in out} == {"keep.csv"}
    assert all(r["n_mentions"] == 11 for r in out)
    # first-5 witnesses in ord order
    assert [r["script"] for r in sorted(out, key=lambda r: r["script_rank"])] == [
        "s0.py", "s1.py", "s2.py", "s3.py", "s4.py"]


def test_top12_cut_and_basename_extraction(spark):
    rows = []
    for ds in range(15):  # 15 datasets, support 11+ds each
        for i in range(11 + ds):
            rows.append((f"s{ds}_{i}.py", ds * 100 + i,
                         f"df = pd.read_csv(\"/a/b/ds{ds:02d}.csv\")"))
    out = dataset_script_index(_mentions(spark, rows), order_col="ord").collect()
    kept = {r["csv"] for r in out}
    # the 12 highest-support datasets survive: ds03..ds14
    assert kept == {f"ds{d:02d}.csv" for d in range(3, 15)}
    assert len(out) == 12 * 5
    # basename extracted (path stripped), double quotes handled
    assert all(r["csv"].startswith("ds") for r in out)


def test_salted_cap_equals_plain_window(spark):
    """The salted witness cap keeps what a plain per-dataset window
    keeps: the first 5 scripts of each hub dataset by ``ord``."""
    rows = []
    for ds in range(3):
        for i in range(30):
            rows.append((f"w{i:02d}.py", i, f"pd.read_csv('hub{ds}.csv')"))
    out = dataset_script_index(_mentions(spark, rows), order_col="ord").collect()
    assert sorted(map(tuple, out)) == [
        (f"hub{ds}.csv", 30, k + 1, f"w{k:02d}.py")
        for ds in range(3) for k in range(5)
    ]
