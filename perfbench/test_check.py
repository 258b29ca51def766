"""The benchmark's correctness checks must be able to fail.

    python3 -m pytest perfbench/test_check.py -q

Runs without Spark: a sink is simulated by writing the expected rows as
a parquet part file plus the ``_spark_metadata`` log entry a Spark file
sink would commit for it.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(__file__))

import cdcgen  # noqa: E402
import check  # noqa: E402


def _fake_sink(tmp_path, rows) -> str:
    sink = tmp_path / "sink"
    (sink / "_spark_metadata").mkdir(parents=True)
    part = sink / "part-00000.parquet"
    check.write_expected(rows, str(part))
    entry = {"path": f"file://{part}", "size": part.stat().st_size, "isDir": False, "action": "add"}
    (sink / "_spark_metadata" / "0").write_text("v1\n" + json.dumps(entry) + "\n")
    # an orphan file a restarted batch could leave behind: not committed
    check.write_expected(rows[:1], str(sink / "part-orphan.parquet"))
    return str(sink)


def test_sink_check_passes_on_equal_and_fails_on_one_changed_row(tmp_path):
    rows = cdcgen.expected_rows(cdcgen.make_records(seed=5, n=200))
    sink = _fake_sink(tmp_path, rows)
    files = check.committed_files(sink)
    assert [os.path.basename(f) for f in files] == ["part-00000.parquet"]

    expected = str(tmp_path / "expected.parquet")
    check.write_expected(rows, expected)
    assert check.sink_diff(files, expected) == (0, 0)

    changed = list(rows)
    changed[17] = changed[17][:-2] + ("PRD_CHANGED", changed[17][-1])
    check.write_expected(changed, expected)
    assert check.sink_diff(files, expected) == (1, 1)


def test_gate_comparison_fails_on_one_changed_row():
    cols = ["vec_id", "cluster"]
    rows = [(i, i % 3) for i in range(10)]
    assert check.rows_equal(cols, rows, ["CLUSTER", "VEC_ID"], [(c, v) for v, c in rows]) is None
    changed = list(rows)
    changed[4] = (4, 2)
    assert check.rows_equal(cols, rows, cols, changed) is not None


def test_model_turns_malformed_values_into_null():
    records = cdcgen.make_records(seed=9, n=cdcgen.MALFORMED_EVERY)
    by_record = []
    for r in records:
        by_record.append(cdcgen.expected_rows([r]))
    names = [n for n, _ in cdcgen.SINK_COLUMNS]
    amount, date = names.index("AMOUNT"), names.index("VALUE_DATE")
    part, qty = names.index("PART"), names.index("QTY")
    assert all(row[date] is None for row in by_record[cdcgen.BAD_DATE])
    assert all(row[amount] is None for row in by_record[cdcgen.BAD_AMOUNT])
    empty = by_record[cdcgen.EMPTY_MV]
    assert len(empty) == 1 and empty[0][part] is None and empty[0][qty] is None
    good = by_record[0]
    assert good[0][date] is not None and good[0][amount] is not None
    assert len(good) == cdcgen.fan_out(records[0])
