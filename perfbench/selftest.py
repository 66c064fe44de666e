"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Checks that every workload, untraced and traced, prints exactly the
metrics ``BENCHMARK.json`` names, each with its unit and a finite
value, and that the correctness checks catch a deliberately corrupted
store and a wrong query answer. Exits 0 when all checks pass.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = dict(
    backlog_files=2,
    msgs_per_file=300,
    max_files_per_trigger=1,
    setup_repeats=2,
    devices=20,
    live_msgs_per_s=300.0,
    probe_repeats=1,
    plan_cycles=3,
)


def _data_files(store: str) -> list[str]:
    return sorted(
        os.path.join(root, n)
        for root, _dirs, names in os.walk(store)
        for n in names
        if n.endswith(".parquet")
    )


def require(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)


def check_metrics(result: dict, spec_metrics: list[dict], label: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec_metrics}
    require(set(got) == set(want), f"{label}: metric names differ: {sorted(set(got) ^ set(want))}")
    for name, unit in want.items():
        require(got[name]["unit"] == unit, f"{label}: {name} unit {got[name]['unit']!r} != {unit!r}")
        require(math.isfinite(got[name]["value"]), f"{label}: {name} is not finite")
    require(result["correct"] and result["failed"] == 0, f"{label}: run reported failures")
    require(result["attempted"] >= 1, f"{label}: nothing attempted")


def check_corruption(bench) -> None:
    """The store check must fail on a store with a lost file, a
    duplicated file and a changed value; the query check must fail on
    an answer with a row missing."""
    import oracle

    corpus = bench.corpus
    clean = os.path.join(bench.tmp, "corrupt-base")
    shutil.copytree(bench.store, clean)
    before = bench.failed
    bench.check_store(clean, corpus)
    require(bench.failed == before, "clean store must pass")

    def corrupted(how) -> list[str]:
        target = os.path.join(bench.tmp, f"corrupt-{how.__name__}")
        shutil.copytree(clean, target)
        how(_data_files(target))
        failed_before = bench.failed
        bench.check_store(target, corpus)
        require(bench.failed == failed_before + 1, f"{how.__name__}: not counted as failed")
        return bench.errors[-1]

    def lose_file(files):
        os.remove(files[0])

    def duplicate_file(files):
        shutil.copy(files[0], files[0].replace(".parquet", "-copy.parquet"))

    def change_value(files):
        for path in files:
            table = pq.read_table(path)
            col = table.column("measurement_number")
            if col.null_count < len(col):
                idx = table.schema.get_field_index("measurement_number")
                pq.write_table(table.set_column(idx, "measurement_number", pc.add(col, 1.0)), path)
                return

    for how in (lose_file, duplicate_file, change_value):
        print(f"selftest: corrupted store ({how.__name__}) -> {corrupted(how)[:120]}")

    q8 = next(r for r in bench.query_runs if r.name == "q8" and r.rows and len(r.rows) > 1)
    require(not oracle.check_query(bench.store, "q8", q8.params, q8.rows), "clean q8 must pass")
    require(oracle.check_query(bench.store, "q8", q8.params, q8.rows[1:]), "q8 with a lost row must fail")
    print("selftest: q8 answer with a lost row is rejected")


def main() -> int:
    spec = run._load_spec()
    tmp = os.path.join(run.ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    os.makedirs(tmp)
    run._prepare_env(tmp)
    from workloads import Sizes

    try:
        for workload in run.WORKLOADS:
            for trace in (0, 1):
                label = f"{workload}-trace{trace}"
                bench, result = run.execute(workload, 5, 8.0, bool(trace), Sizes(**TINY), os.path.join(tmp, label))
                for err in bench.errors:
                    print(f"selftest: {label}: {err}", file=sys.stderr)
                check_metrics(result, spec["per_layer" if trace else "end_to_end"], label)
                print(f"selftest: {label}: {len(result['metrics'])} metrics, {result['attempted']} checks ok")
                if workload == "dashboard" and not trace:
                    check_corruption(bench)
    finally:
        run._stop_jvm()
        run.remove_run_dir(tmp)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
