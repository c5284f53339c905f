"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Checks that each oracle rejects corrupted output, that the benchmark's Avro
codec agrees with the program's, that every workload runs from a working
directory other than the repository root and prints every named metric with
its unit and sample count in both modes, that the keyed replay flushes before
its end-of-input drain, that BENCHMARK.json names the same metrics, and that without the program next to it the benchmark exits non-zero
without a result. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import avro, inputs, oracles  # noqa: E402
from perfbench.metrics import E2E, LAYERS  # noqa: E402
from perfbench.workloads import STREAMS, WORKLOADS  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench_work", "selftest")


def _flushes(batches, keyed: bool) -> list[list[tuple]]:
    """A correct sink: one file per key holding its first arrivals and its
    sentinel in event-time order."""
    expected = oracles.first_arrivals(batches, keyed)
    by_key: dict[str, list[tuple]] = {}
    for (key, _), row in expected.items():
        by_key.setdefault(key, []).append(row)
    for row in zip(*(batches[-1][c] for c in inputs.ORDER_FIELDS)):
        by_key.setdefault(row[2] if keyed else "", []).append(oracles._norm(row))
    return [sorted(rows, key=lambda r: r[4]) for rows in by_key.values()]


def check_stream_oracle() -> None:
    for name, keyed in (("reorder_deep", False), ("reorder_avro_keyed", True)):
        batches = inputs.order_batches(STREAMS["tiny"][name].shape, seed=5)
        expected = oracles.first_arrivals(batches, keyed)
        files = _flushes(batches, keyed)
        errs, _ = oracles.check_stream(expected, files, keyed)
        assert not errs, f"{name}: correct output rejected: {errs}"
        big = max(range(len(files)), key=lambda i: len(files[i]))
        dup_of = {
            (r[2] if keyed else "", int(r[4])): oracles._norm(r)
            for b in batches[1:-1]
            for r in zip(*(b[c] for c in inputs.ORDER_FIELDS))
            if r[0].endswith("-dup")
        }
        corruptions = {
            "swapped pair": lambda f: f[big].__setitem__(slice(0, 2), [f[big][1], f[big][0]]),
            "duplicate row": lambda f: f[big].insert(1, f[big][0]),
            "dropped row": lambda f: f[big].pop(0),
            "later duplicate wins": lambda f: _replace_with_dup(f, dup_of, keyed),
        }
        for what, corrupt in corruptions.items():
            bad = [list(rows) for rows in files]
            corrupt(bad)
            errs, _ = oracles.check_stream(expected, bad, keyed)
            assert errs, f"{name}: oracle accepted output with a {what}"
    print("ok: stream oracles reject a swapped pair, a duplicate, a dropped row and a later duplicate winning")


def _replace_with_dup(files, dup_of, keyed: bool) -> None:
    for rows in files:
        for i, row in enumerate(rows):
            dup = dup_of.get((row[2] if keyed else "", row[4]))
            if dup is not None:
                rows[i] = dup
                return
    raise AssertionError("no duplicated row in the tiny input")


def check_batch_oracle() -> None:
    import duckdb

    import kafka_streams_reorder_timestamp_spark.operators  # noqa: F401
    from kafka_streams_reorder_timestamp_spark.operators.registry import REGISTRY
    from parity import _canon

    data = os.path.join(SCRATCH, "tables")
    inputs.write_tables(inputs.batch_tables(0.001, 40, seed=5), data)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{data}/lineitem.parquet'")
    good = con.execute(REGISTRY["q1_pricing_summary"].oracle).fetch_df()
    con.close()
    assert not oracles.check_batch(good.copy(), good, _canon), "batch oracle rejected an equal result"
    numeric = next(c for c in good.columns if good[c].dtype.kind == "f")
    perturbed = good.copy()
    perturbed.loc[0, numeric] += 0.01
    assert oracles.check_batch(perturbed, good, _canon), "batch oracle accepted a perturbed value"
    assert oracles.check_batch(good.iloc[1:], good, _canon), "batch oracle accepted a dropped row"
    print("ok: batch oracle rejects a perturbed value and a dropped row")


def check_avro() -> None:
    from kafka_streams_reorder_timestamp_spark.sources.avro_codec import decode_order, encode_order

    for rec in [("o1", "HDTV-2333", "u7", 12.5, 1_700_000_000_123), ("", "é", "u0", -0.0, -1), ("x" * 300, "a", "b", 1e300, 2**62)]:
        body = avro.encode(*rec)
        assert avro.decode(body) == rec, rec
        assert body == encode_order(dict(zip(inputs.ORDER_FIELDS, rec))), rec
        assert tuple(decode_order(body).values()) == rec, rec
    print("ok: benchmark Avro codec round-trips and matches the program's bytes")


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_runs() -> None:
    cwd = os.path.join(SCRATCH, "elsewhere")
    os.makedirs(cwd, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert declared == set(E2E), "BENCHMARK.json end_to_end differs from metrics.E2E"
    declared = {(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]}
    assert declared == set(LAYERS), "BENCHMARK.json per_layer differs from metrics.LAYERS"
    for workload in WORKLOADS:
        for traced, table in ((0, E2E), (1, LAYERS)):
            out = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(traced), "--scale", "tiny"], cwd)
            assert out.returncode == 0, f"{workload} trace={traced} exited {out.returncode}:\n{out.stderr[-3000:]}"
            lines = out.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0, f"{workload} trace={traced}: {out.stdout[-2000:]}"
            for name, unit, _ in table:
                assert result["metrics"][name]["unit"] == unit, (workload, name)
                assert re.search(rf"^{re.escape(name)}\s+\S+\s+{re.escape(unit)}\s+n=\d+$", out.stdout, re.M), (workload, name)
            if workload == "reorder_avro_keyed" and traced:
                _check_flushes_before_drain(out.stdout)
            print(f"ok: {workload} trace={traced} from {cwd}: {len(result['metrics'])} metrics, correct")


def _samples(stdout: str, name: str) -> int:
    return int(re.search(rf"^{re.escape(name)}\s.*n=(\d+)$", stdout, re.M).group(1))


def _check_flushes_before_drain(stdout: str) -> None:
    """The keyed replay must flush in data batches, not only in the final
    drain: more batches emit rows than there are replays."""
    replays = _samples(stdout, "error_rate")
    flushing = _samples(stdout, "reorder.flush_batch_ms_p50")
    assert flushing > replays, f"reorder_avro_keyed: {flushing} emitting batches over {replays} replays"


def check_without_program() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0 and not out.stdout.strip(), (out.returncode, out.stdout)
    print("ok: without the program the benchmark exits non-zero and prints no result")


def main() -> int:
    os.makedirs(SCRATCH, exist_ok=True)
    try:
        check_avro()
        check_stream_oracle()
        check_batch_oracle()
        check_without_program()
        check_runs()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
