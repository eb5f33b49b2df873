"""Record the reference output digests the benchmark checks every run against.

    python3 perfbench/record.py [input_set ...]      # default: every set

Run from the root of a checkout.  For each input set it runs every query of
every workload twice in one session; the two passes' digests must agree.  Where the
registry declares a DuckDB oracle, the output is also checked against it
with the digest gate of ``tools/check_correctness.py``.  A query failing
either check is not recorded and the script exits 1.  Results are merged
into ``perfbench/reference_digests.json``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import gen, host  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> int:
    os.environ.update(host.session_env(ROOT))
    from compss_python_spark.plans import REGISTRY
    from compss_python_spark.session import get_spark
    from perfbench.worker import REFERENCE_FILE, Runner

    check = _load_tool("check_correctness")
    sets = [int(a) for a in sys.argv[1:]] or list(range(gen.N_INPUT_SETS))
    mults = sorted({wl.mult for wl in WORKLOADS.values()})
    spark = get_spark("perfbench-record")
    try:
        with open(REFERENCE_FILE, encoding="utf-8") as fh:
            refs = json.load(fh)
    except FileNotFoundError:
        refs = {}
    bad = []
    for mult in mults:
        queries = list(dict.fromkeys(q for wl in WORKLOADS.values() if wl.mult == mult for q in wl.queries))
        for set_id in sets:
            data = gen.ensure_inputs(spark, ROOT, set_id, mult)
            key = f"gen{mult}-set{set_id}"
            # Against the digests recorded so far, so the log shows any that moved.
            runner = Runner(spark, data, refs.get(key, {}))
            first = runner.run_pass(queries, "record0")
            second = runner.run_pass(queries, "record1")
            con = check.duck_connection(data)
            for a, b in zip(first, second):
                q = a["query"]
                verdict = "pass"
                if a.get("digest") is None or a.get("digest") != b.get("digest"):
                    verdict = f"unstable or failing digest: {a.get('digest')} / {b.get('digest')}"
                elif REGISTRY[q].sql is not None:
                    with contextlib.redirect_stdout(sys.stderr):
                        verdict = check._check_digest(spark, con, q, REGISTRY[q], data, 300, time.time())
                if verdict == "pass":
                    refs.setdefault(key, {})[q] = a["digest"]
                else:
                    bad.append(f"{key} {q}: {verdict}")
            con.close()
    host.stop_jvm(spark)
    with open(REFERENCE_FILE, "w", encoding="utf-8") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for line in bad:
        print(f"perfbench record: {line}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
