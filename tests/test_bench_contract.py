"""Contract guards for bench.py: the final stdout line must stay within
the driver's ~2000-char tail capture (an early record was unparseable
because 96 queries overflowed it), and the exit code follows the
job/stage counter baseline and nothing else."""

from __future__ import annotations

import json

import pytest


def test_gate_stdout_line_fits_tail_capture():
    import __spark_entry__ as m

    gate = sorted(m.queries())
    assert len(gate) == 50
    # worst-case rendering: three-digit seconds, 2 decimals
    line = json.dumps(
        {
            "metric": "conduit_spark_query_suite_total",
            "value": 999.99,
            "unit": "sec",
            "queries": {n: 999.99 for n in gate},
            "sf": 0.1,
            "detail": "BENCH_DETAIL.json",
        },
        separators=(",", ":"),
    )
    assert len(line) < 1800, (
        f"bench stdout line would be {len(line)} chars; rotate shorter "
        "gate names or drop the per-query map"
    )


def test_every_gate_query_has_matching_oracle_columns():
    """Sanity: every oracle is a SELECT (not DDL) and every gate entry
    either has an oracle or is deliberately rows-only."""
    import __spark_entry__ as m

    q, o = m.queries(), m.oracle_sql()
    rows_only = set(q) - set(o)
    assert rows_only <= {"rag_ingest_retrieve"}, rows_only
    for name, sql in o.items():
        assert "select" in sql.lower(), name


RECORD = '{"metric":"conduit_spark_query_suite_total","value":1.0}'


def _gate(tmp_path, baseline, counts, key="sf0.1"):
    """Run bench.gate against a throwaway baseline file; return (exit
    code, stdout lines, baseline after)."""
    path = tmp_path / "BENCH_COUNTERS.json"
    if baseline is not None:
        path.write_text(json.dumps(baseline))
    code, lines = _gate_raw(path, counts, key)
    return code, lines, json.loads(path.read_text())


def _gate_raw(path, counts, key="sf0.1"):
    import contextlib
    import io

    import bench

    out = io.StringIO()
    code = 0
    with contextlib.redirect_stdout(out):
        try:
            bench.gate(RECORD, counts, key, path=str(path))
        except SystemExit as e:
            code = e.code
    return code, out.getvalue().splitlines()


BASE = {"sf0.1": {"q_a": {"jobs": 3, "stages": 4},
                  "q_b": {"jobs": 5, "stages": 7}}}


def test_raised_job_count_exits_3_naming_the_query(tmp_path):
    counts = {"q_a": {"jobs": 4, "stages": 4}, "q_b": {"jobs": 5, "stages": 7}}
    code, lines, after = _gate(tmp_path, BASE, counts)
    assert code == 3
    assert lines[-1] == RECORD  # the record line still ends the tail
    assert len(lines) == 2 and "q_a" in lines[0] and "jobs 3 -> 4" in lines[0]
    assert after == BASE  # a regression never rewrites the baseline


def test_raised_stage_count_exits_3_naming_the_query(tmp_path):
    counts = {"q_a": {"jobs": 3, "stages": 4}, "q_b": {"jobs": 5, "stages": 8}}
    code, lines, after = _gate(tmp_path, BASE, counts)
    assert code == 3
    assert len(lines) == 2 and "q_b" in lines[0] and "stages 7 -> 8" in lines[0]
    assert lines[-1] == RECORD and after == BASE


def test_equal_or_lower_counts_are_silent(tmp_path):
    counts = {"q_a": {"jobs": 3, "stages": 4}, "q_b": {"jobs": 2, "stages": 3}}
    code, lines, after = _gate(tmp_path, BASE, counts)
    assert code == 0 and lines == [RECORD]
    assert after == BASE  # a drop is recorded by editing the file, not here


def test_missing_query_or_key_is_written_and_does_not_fail(tmp_path):
    new = {"q_new": {"jobs": 9, "stages": 9}}
    code, lines, after = _gate(tmp_path, BASE, {**new, "q_a": BASE["sf0.1"]["q_a"]})
    assert code == 0 and lines == [RECORD]
    assert after["sf0.1"] == {**BASE["sf0.1"], **new}
    code, lines, after = _gate(tmp_path, BASE, new, key="sf1")
    assert code == 0 and lines == [RECORD]
    assert after == {**BASE, "sf1": new}
    (tmp_path / "BENCH_COUNTERS.json").unlink()
    code, lines, after = _gate(tmp_path, None, new)  # no file at all
    assert code == 0 and after == {"sf0.1": new}


def test_existing_entry_is_never_overwritten(tmp_path):
    counts = {"q_a": {"jobs": 1, "stages": 1}, "q_new": {"jobs": 2, "stages": 2}}
    code, lines, after = _gate(tmp_path, BASE, counts)
    assert code == 0
    assert after["sf0.1"]["q_a"] == BASE["sf0.1"]["q_a"]
    assert after["sf0.1"]["q_new"] == {"jobs": 2, "stages": 2}
    # a regressing run that also adds a query still leaves q_b's entry
    counts = {"q_b": {"jobs": 6, "stages": 7}, "q_c": {"jobs": 1, "stages": 1}}
    code, lines, after = _gate(tmp_path, BASE, counts)
    assert code == 3 and after["sf0.1"]["q_b"] == BASE["sf0.1"]["q_b"]
    assert after["sf0.1"]["q_c"] == {"jobs": 1, "stages": 1}


@pytest.mark.parametrize("text", [
    '{"sf0.1": {"q_a": {"jobs": 3, "stages": 4}',  # cut JSON
    '<<<<<<< HEAD\n{"sf0.1": {}}\n=======\n{}\n>>>>>>> b\n',  # merge markers
    '{"sf0.1": {"q_a": {"stages": 4}}}',  # entry without "jobs"
    '[]',  # not a map
])
def test_unreadable_baseline_still_prints_the_record_line_last(tmp_path, text):
    path = tmp_path / "BENCH_COUNTERS.json"
    path.write_text(text)
    code, lines = _gate_raw(path, {"q_a": {"jobs": 3, "stages": 4}})
    assert code == 3
    assert lines[-1] == RECORD
    assert len(lines) == 2 and "bench-counter-baseline-error" in lines[0]
    assert path.read_text() == text  # a broken baseline is never rewritten


def test_scripts_import_only_real_bench_names_and_share_its_warmup():
    """No test imports scripts/; parse them so a script still calling a
    deleted or renamed bench helper fails here, and so the worker-pool
    warmup stays in bench.warmup instead of being copied again."""
    import ast
    import pathlib

    import bench

    scripts = sorted(pathlib.Path(bench.REPO, "scripts").glob("*.py"))
    assert scripts
    for path in scripts:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "bench":
                for alias in node.names:
                    assert hasattr(bench, alias.name), (path.name, alias.name)
            if isinstance(node, ast.Attribute) and node.attr == "mapInPandas":
                raise AssertionError(
                    f"{path.name}:{node.lineno} runs its own mapInPandas "
                    "warmup; call bench.warmup"
                )
