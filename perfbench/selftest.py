#!/usr/bin/env python3
"""Self-test of the benchmark, on the tiny sf0.001 fixture with one pass:

    python3 perfbench/selftest.py

Checks that every workload key resolves in SparkEntry.queries and passes its
output check, that every metric is printed with its unit (and that
BENCHMARK.json declares the same units), and that steady's timed pass
compiles no class while broad's compiles more than the 100 classes the
codegen cache holds. Exits 1 on any failed check.
"""
import io
import json
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run as bench  # noqa: E402

failures = []


def check(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        failures.append(what)


def main():
    declared = json.loads((bench.ROOT / "BENCHMARK.json").read_text())
    units = {**bench.END_TO_END, **bench.PER_LAYER}
    for group in ("end_to_end", "per_layer"):
        for m in declared[group]:
            check(units.get(m["name"]) == m["unit"],
                  f"BENCHMARK.json {m['name']} unit {m['unit']} matches run.py")
    check({m["name"] for m in declared["workloads"]} == set(bench.WORKLOADS),
          "BENCHMARK.json workloads match run.py")

    for workload, keys in bench.WORKLOADS.items():
        for trace in (0, 1):
            res = bench.run(workload, seed=1, seconds=0, trace=trace,
                            sf_dir=bench.WARM_DIR, warm_dir=bench.WARM_DIR,
                            min_executions=1)
            tag = f"{workload} trace={trace}"
            ran = {s for s in res["checks"] if res["checks"][s] != "missing"}
            check(ran == set(keys) and res["attempted"] == len(keys),
                  f"{tag}: every key resolved and ran")
            check(res["failed"] == 0, f"{tag}: no key failed ({res['checks']})")
            out = io.StringIO()
            with redirect_stdout(out):
                bench.print_table(res)
                print(bench.result_line(res, trace))
            lines = out.getvalue().splitlines()
            for name, unit in (units if trace else bench.END_TO_END).items():
                check(any(l.split()[:1] == [name] and l.split()[-1] == unit for l in lines),
                      f"{tag}: table prints {name} in {unit}")
            result = json.loads(lines[-1])
            group = "per_layer" if trace else "end_to_end"
            check(set(result["metrics"]) == {m["name"] for m in declared[group]}
                  and all(v["unit"] == units[n] for n, v in result["metrics"].items()),
                  f"{tag}: result line has every {group} metric with its unit")
            if trace:
                compiles = [p["codegen.compiles"] for p in res["per_pass"]]
                if workload == "steady":
                    check(all(c == 0 for c in compiles), f"steady compiles {compiles} == 0")
                if workload == "broad":
                    check(all(c > 100 for c in compiles), f"broad compiles {compiles} > 100")
    print(f"{len(failures)} failed check(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
