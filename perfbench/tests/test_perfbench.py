"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import calib  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def base():
    return gen.base_tables()


def tree_digest(root) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator_is_byte_deterministic_per_seed(base, tmp_path):
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    gen.write_permuted(base, 11, str(a))
    gen.write_permuted(base, 11, str(b))
    gen.write_permuted(base, 12, str(c))
    assert tree_digest(str(a)) == tree_digest(str(b))
    assert tree_digest(str(a)) != tree_digest(str(c))
    r1, r2 = tmp_path / "r1", tmp_path / "r2"
    gen.write_refjob_inputs(base["documents"], 40, 3, 5, str(r1))
    gen.write_refjob_inputs(base["documents"], 40, 3, 5, str(r2))
    assert tree_digest(str(r1)) == tree_digest(str(r2))
    assert sorted(os.listdir(r1 / "docs")) == sorted(f"{i}.txt" for i in range(1, 41))


def test_permutation_keeps_each_table_multiset(base, tmp_path):
    gen.write_permuted(base, 3, str(tmp_path / "p"))
    for name in gen.TABLES:
        gen.write_table(base[name], str(tmp_path / f"{name}.parquet"))
    perm = oracle.connect(str(tmp_path / "p"), gen.TABLES)
    orig = oracle.connect(str(tmp_path), gen.TABLES)
    for name in gen.TABLES:
        assert oracle.multiset_checksum(perm, name) == oracle.multiset_checksum(orig, name), name
    reordered = perm.execute("SELECT doc_id FROM documents LIMIT 20").fetchall()
    assert reordered != [(i,) for i in range(20)]


def test_self_time_subtracts_the_union_of_children():
    trace = spans.Trace()
    parent = trace.add("build", 0.0, 10.0)
    trace.add("job", 1.0, 3.0, parent)
    trace.add("job", 2.0, 5.0, parent)  # overlaps the first job
    trace.add("job", 8.0, 12.0, parent)  # runs past the parent's end
    assert trace.self_time(parent) == pytest.approx(10.0 - 4.0 - 2.0)
    assert spans.covered([], 0.0, 1.0) == 0.0
    assert spans.covered([(5.0, 6.0)], 0.0, 1.0) == 0.0
    assert spans.covered([(0.0, 1.0), (1.0, 2.0)], 0.0, 2.0) == pytest.approx(2.0)


def test_percentile_needs_ten_samples_beyond_it():
    assert run.percentile([float(i) for i in range(99)], 0.9) is None
    assert run.percentile([float(i) for i in range(100)], 0.9) == 89.0
    assert run.percentile([1.0] * 19, 0.5) is None
    assert run.percentile([float(i) for i in range(20)], 0.5) == 9.0
    assert run.percentile([], 0.5) is None


def test_speed_factor_uses_the_samples_inside_the_window():
    probe = calib.SpeedProbe()
    probe.starts = [0.0, 1.0, 2.0, 3.0]
    probe.cpu = [calib.REF_LOOP_S, 2 * calib.REF_LOOP_S, 2 * calib.REF_LOOP_S, calib.REF_LOOP_S]
    assert probe.factor(0.5, 2.5) == pytest.approx(0.5)  # a host half as fast
    assert probe.factor(0.0, 3.0) == pytest.approx(1 / 1.5)
    with pytest.raises(ValueError):
        probe.factor(3.5, 4.0)


def test_speed_probe_samples_until_stopped():
    probe = calib.SpeedProbe()
    probe.start()
    t0 = time.monotonic()
    time.sleep(5 * calib.PERIOD_S)
    probe.stop()
    assert not probe.is_alive()
    assert len(probe.starts) == len(probe.cpu) >= 2
    assert probe.factor(t0 - 1.0, time.monotonic()) > 0


def test_group_memory_counts_a_live_group():
    assert os.getpid() in run.group_pids(os.getpgid(0))
    assert run.group_pss(os.getpgid(0)) > 0


@pytest.mark.parametrize(
    "text, value",
    [
        ("1.7 s", 1.7),
        ("623 ms", 0.623),
        ("2.5 m", 150.0),
        ("416.0 B", 416.0),
        ("16.3 KiB", 16.3 * 1024),
        ("1.5 MiB", 1.5 * 1024**2),
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n1.7 s (100 ms, 200 ms, 1.0 s (stage 3.0: task 4))", 1.7),
    ],
)
def test_sql_metric_strings_parse_to_base_units(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)


def test_sql_metric_parse_rejects_unknown_units():
    with pytest.raises(ValueError):
        spans.parse_metric("3 furlongs")


def test_benchmark_json_matches_the_metrics_the_code_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layers == {n: run.layer_unit(n) for n in worker.per_layer_names() + list(run.RUN_LAYERS)}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME_RE.match(m["name"]), m["name"]
        assert UNIT_RE.match(m["unit"]), m["unit"]
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) <= 0.25
    for w in spec["workloads"]:
        assert w["name"] in workloads.QUERIES


def test_refjob_reference_build_on_the_golden_corpus(tmp_path):
    docs = tmp_path / "docs"
    docs.mkdir()
    for i, text in enumerate(
        ["the cats are meeting, and agreed to play.", "a cat was milling; ponies agreed.", "meetings about caresses and ties."],
        start=1,
    ):
        (docs / f"{i}.txt").write_text(text + "\n")
    (tmp_path / "sw.txt").write_text("the\nand\na\nto\nwas\nare\nabout\n")
    (tmp_path / "centers.txt").write_text("[1,0,0,]\n[0,1,0,]\n[0,0,1,]\n")
    index, kmeans = oracle.refjob_expected(str(docs), str(tmp_path / "sw.txt"), str(tmp_path / "centers.txt"))
    lines = dict(line.split("\t") for line in index)
    assert lines["agre"] == "[1,1,0,]"
    assert lines["cat"] == "[1,1,0,]"
    assert lines["meet"] == "[1,0,1,]"
    assert lines["poni"] == "[0,1,0,]"
    assert [line.split("\t")[0] for line in index] == sorted(lines)
    assert sorted(t for line in kmeans for t in line.split("\t")[1].split()) == sorted(lines)


def test_oracle_table_refs():
    assert oracle.table_refs("SELECT * FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey") == [
        "orders",
        "lineitem",
    ]
    assert oracle.table_refs("SELECT 1 OVER (PARTITION BY x)") == []
