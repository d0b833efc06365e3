"""Job-level attribution for one or more declared queries (guide §1).

Runs each named query (build the DataFrame, then count it) at INFO log level;
DAGScheduler emits "Job N finished: ..., took X s" per action. Marker lines
bracket each rep so the log can be windowed per query:

    python tools/profile_query.py q1 q2 --repeat 2 2> /tmp/prof.log
    python tools/profile_query.py --parse /tmp/prof.log

The parse step reports, per (query, rep): total wall, summed job execution
time, job count — the remainder is driver-side (Catalyst + Py4J + Python).
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def parse(path: str):
    cur = None
    out = {}
    job_re = re.compile(r"Job (\d+) finished: (\S+).*took ([0-9.]+) (m?s)")
    for line in open(path, errors="replace"):
        m = re.search(r"### BEGIN (\S+) rep(\d+)", line)
        if m:
            cur = (m.group(1), int(m.group(2)))
            out[cur] = {"jobs": [], "total_s": None}
            continue
        m = re.search(r"### END (\S+) rep(\d+) total=([0-9.]+) fit=([0-9.]+)", line)
        if m:
            k = (m.group(1), int(m.group(2)))
            if k in out:
                out[k]["total_s"] = float(m.group(3))
                out[k]["fit_s"] = float(m.group(4))
            cur = None
            continue
        if cur is not None:
            m = job_re.search(line)
            if m:
                t = float(m.group(3)) * (0.001 if m.group(4) == "ms" else 1.0)
                out[cur]["jobs"].append((int(m.group(1)), m.group(2), t))
    for (name, rep), rec in out.items():
        jt = sum(t for _, _, t in rec["jobs"])
        tot = rec.get("total_s") or 0.0
        print(f"{name} rep{rep}: total={tot:.2f}s jobs={len(rec['jobs'])} "
              f"job_time={jt:.2f}s driver_side={tot - jt:.2f}s fit={rec.get('fit_s', 0):.2f}s")
        for jid, what, t in sorted(rec["jobs"], key=lambda x: -x[2])[:8]:
            if t >= 0.1:
                print(f"    job {jid} {what} {t:.2f}s")


def main():
    if "--parse" in sys.argv:
        parse(sys.argv[sys.argv.index("--parse") + 1])
        return
    names = [a for a in sys.argv[1:] if not a.startswith("--") and not a.replace(".", "").isdigit()]
    repeat = 2
    if "--repeat" in sys.argv:
        repeat = int(sys.argv[sys.argv.index("--repeat") + 1])

    from bench import new_session

    import __spark_entry__ as entry

    spark = new_session(CPUS)
    spark.sparkContext.setLogLevel("INFO")
    qs = entry.queries()
    for name in names:
        fn = qs[name]
        for rep in range(repeat):
            entry._FIT_LOG.clear()
            print(f"### BEGIN {name} rep{rep}", file=sys.stderr, flush=True)
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.count()
            total = time.time() - t0
            fit_s = sum(entry._FIT_LOG)
            print(f"### END {name} rep{rep} total={total:.3f} fit={fit_s:.3f}",
                  file=sys.stderr, flush=True)
            print(f"{name} rep{rep}: {total:.2f}s", flush=True)


if __name__ == "__main__":
    main()
