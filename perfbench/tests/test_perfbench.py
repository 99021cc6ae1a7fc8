"""Self-tests of the benchmark: `python -m pytest perfbench/tests -q`.

The unit tests need no Spark. The smoke tests run the real harness as a
subprocess at tiny sizes (one JVM each, about half a minute apiece):

- every workload, untraced: exits 0, prints each end-to-end metric of
  BENCHMARK.json with its unit, and no call fails;
- every workload with a corrupted expected answer: every call fails,
  which shows the output checks are live;
- every workload, traced: prints each per-layer metric of BENCHMARK.json,
  the spans account for each traced call's wall time within 5%, and
  pip_join runs no Python worker.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, tracing  # noqa: E402
from perfbench.run import held_mb, tail  # noqa: E402

WORKLOADS = ("spatial_floor", "spatial_write_10x", "kernels")


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ units
def test_tail_needs_ten_calls_beyond_it():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 0.5)
    xs = [float(i) for i in range(1, 41)]  # 40 calls: rank 29 has 10 above it
    value, level = tail(xs)
    assert value == 30.0 and level == 0.75
    assert sum(x > value for x in xs) == 10


def test_held_memory_leaves_out_eden():
    pools = {"G1 Eden Space": 900.0, "G1 Old Gen": 300.0, "G1 Survivor Space": 20.0,
             "Metaspace": 150.0}
    assert held_mb(pools) == 470.0


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0


def test_parse_plan_graph_reads_totals_units_and_band_join():
    dot = (
        '  7 [id="node7" labelType="html" label="<b>BroadcastHashJoin</b><br><br>number of output '
        'rows: 1,266" tooltip="BroadcastHashJoin [band#7, bh#8L], [band#17, bh#18L], Inner"];\n'
        '  12 [id="node12" labelType="html" label="<b>MapInPandas</b><br><br>time to run Python '
        'workers: 622 ms<br>data returned from Python workers: 47.0 KiB<br>time to start Python '
        'workers: 0 ms<br>time to initialize Python workers total (min, med, max (stageId: taskId))'
        '<br>1.5 s (0 ms, 1 ms, 2 ms (stage 5.0: task 6))<br>data sent to Python workers: 1.0 MiB" '
        'tooltip="MapInPandas run"];\n'
        '  18 [id="node18" labelType="html" label="<b>BroadcastExchange</b><br><br>time to '
        'broadcast: 15 ms<br>time to build: 66 ms<br>time to collect: 3.3 s<br>data size: 2.0 MiB" '
        'tooltip="BroadcastExchange HashedRelationBroadcastMode"];\n'
    )
    m = tracing.sql_metrics(tracing.parse_plan_graph(dot))
    assert m["band_join_rows"] == 1266
    assert m["python_run_s"] == pytest.approx(0.622)
    assert m["python_start_s"] == pytest.approx(1.5)
    assert m["python_bytes"] == 47 * 1024 + (1 << 20)
    assert m["broadcast_s"] == pytest.approx(3.381)
    assert m["broadcast_bytes"] == 2 << 20


def test_generators_are_seeded_and_edges_stay_off_the_lattice():
    a, b = gen.images_arrays(3, 2000), gen.images_arrays(3, 2000)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["lon"], gen.images_arrays(4, 2000)["lon"])
    assert len({gen.layer_rects(s)[0][1:3] for s in range(10)}) > 1  # the seed moves the layer
    for seed in range(10):
        img = gen.images_arrays(seed, 20000)
        for _pid, x0, y0, x1, y1 in gen.layer_rects(seed):
            for edge, coord in ((x0, "lon"), (x1, "lon"), (y0, "lat"), (y1, "lat")):
                assert np.abs(img[coord] - edge).min() > 1e-6
    hot = gen.documents_table(1, 200).column("text").to_pylist()
    assert hot[18].split()[:47] == hot[17].split()[:47]  # 18 % 17 == 1


def test_ivf_replay_matches_the_duckdb_twin(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from util_gis_spark.operators.ann import ann_ivf_topk_sql

    arrs = gen.embeddings_arrays(2, 1500)
    path = str(tmp_path / "embeddings")
    gen.write_table(gen.embeddings_table(arrs), path, n_files=1)
    ids, v, label = oracle.load_embeddings(path)
    exp = oracle.ivf_topk(ids, v, label, step=50)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')")
    rows = con.execute(ann_ivf_topk_sql(probe_filter="vec_id % 50 = 0")).fetchall()
    assert len(rows) == 3 * len(exp["probes"])
    assert oracle.check_ivf(rows, exp) == []
    bad = [(p, n + 1 if i == 0 else n, c, lid) for i, (p, n, c, lid) in enumerate(rows)]
    assert oracle.check_ivf(bad, exp) != []


# ------------------------------------------------------------------ smoke
def run_bench(workload: str, *extra: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric_and_passes(workload):
    result, detail = run_bench(workload, "--trace", "0")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["failed_frac"] == 0
    want = {m["name"]: m["unit"] for m in declared()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_expected_answer_fails_every_call(workload):
    result, detail = run_bench(workload, "--trace", "0", "--corrupt-oracle")
    assert not result["correct"]
    assert result["failed"] == result["attempted"] and detail["failed_frac"] == 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_prints_every_per_layer_metric(workload):
    result, detail = run_bench(workload, "--trace", "1")
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in declared()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # plan + exec of the traced ops accounts for the call's wall time
    assert 0.95 <= m["trace.accounted_frac"] <= 1.0
    per_op = {k: v[0] for k, v in detail["per_op"].items()}
    ops = {k.rsplit(".", 1)[0] for k in per_op if k.endswith(".plan_s")}
    for op in ops:
        assert per_op[f"{op}.plan_s"] + per_op[f"{op}.exec_s"] > 0
    if workload == "kernels":
        assert m["python.run_frac"] > 0
        for op in ("simhash_near_dup_pairs", "minhash_near_dup_pairs"):
            # the band join's output rows were found in the plan graph
            assert per_op[f"operators.dedup.{op}.candidate_pairs"] > 0
            assert 0 < per_op[f"operators.dedup.{op}.pair_yield"] <= 1
    else:
        assert per_op["operators.joins.pip_join.python_run_s"] == 0
        assert m["python.run_frac"] == 0
        assert per_op["geo.cellmap_cells"] > 0
    if workload == "spatial_write_10x":
        assert per_op["io.checkpoint.resumed_frac"] == 1.0
        assert per_op["io.checkpoint.bytes_written"] > 0 and per_op["io.checkpoint.write_amp"] > 0
        assert per_op["io.checkpoint.write_s"] > 0 and per_op["io.checkpoint.resume_s"] > 0
