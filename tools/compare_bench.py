#!/usr/bin/env python3
"""Compare two graft.Bench records query by query.

Usage: python3 tools/compare_bench.py A.json B.json

Each argument is a Bench full-result record: tools/bench_last_run.json,
a captured stdout log (the last line holding a "queries" map is used,
sbt's "[info] " prefix allowed), or a driver record whose "parsed" field
holds the line (BENCH_r*.json).

For every query B runs more than 1.3x slower than A, the regression is
labelled from the two records' "profile" rows:
- "task-time backed": B's summed task time also grew by more than 1.3x,
  so the executors did more work;
- "wall only": task time did not grow as much, so the time went to the
  driver (planning, scheduling) or to a slow machine window;
- "no profile": one of the records has no profile row for the query.
A query present in only one record is listed as such. Then the ladder
steps are printed side by side: seconds at 1x and 2x the corpus and
their ratio (about 2.0 is linear).
"""
import json
import sys

RATIO = 1.3


def load(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    try:
        rec = json.loads(text)
        if isinstance(rec, dict):
            if "queries" in rec:
                return rec
            if isinstance(rec.get("parsed"), dict) and "queries" in rec["parsed"]:
                return rec["parsed"]
    except json.JSONDecodeError:
        pass
    found = None
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        if not (line.startswith("{") and '"queries"' in line):
            continue
        try:
            found = json.loads(line)
        except json.JSONDecodeError:
            continue
    if found is None:
        sys.exit(f"{path}: no bench record with a queries map")
    return found


def label(name: str, a: dict, b: dict) -> str:
    pa = a.get("profile", {}).get(name)
    pb = b.get("profile", {}).get(name)
    if not pa or not pb:
        return "no profile"
    ta, tb = pa.get("task_s", 0.0), pb.get("task_s", 0.0)
    if tb > RATIO * ta and tb > 0.0:
        return "task-time backed"
    return "wall only"


def fmt(x) -> str:
    return "-" if x is None else f"{x:.2f}"


def ladder_row(rec: dict, step: str):
    s = rec.get("ladder", {}).get(step)
    if not s:
        return None, None, None
    x1, x2 = s.get("x1"), s.get("x2")
    ratio = x2 / x1 if x1 and x2 is not None else None
    return x1, x2, ratio


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    qa, qb = a["queries"], b["queries"]
    print(f"total: A {a.get('value', sum(qa.values())):.1f} s, "
          f"B {b.get('value', sum(qb.values())):.1f} s")
    rows = []
    for name in sorted(set(qa) | set(qb)):
        if name not in qb:
            rows.append((name, qa[name], None, None, "only in A"))
        elif name not in qa:
            rows.append((name, None, qb[name], None, "only in B"))
        elif qa[name] > 0 and qb[name] > RATIO * qa[name]:
            rows.append((name, qa[name], qb[name], qb[name] / qa[name],
                         label(name, a, b)))
    print(f"\n{len(rows)} queries regressed by more than {RATIO}x "
          "or missing from one record:")
    print(f"{'query':34} {'A s':>8} {'B s':>8} {'B/A':>6}  label")
    for name, sa, sb, r, lab in rows:
        print(f"{name:34} {fmt(sa):>8} {fmt(sb):>8} {fmt(r):>6}  {lab}")
    steps = sorted(set(a.get("ladder", {})) | set(b.get("ladder", {})))
    if steps:
        print("\nladder (seconds at 1x and 2x the corpus, 2x/1x):")
        print(f"{'step':22} {'A 1x':>7} {'A 2x':>7} {'A 2x/1x':>8}"
              f" {'B 1x':>7} {'B 2x':>7} {'B 2x/1x':>8}")
        for step in steps:
            cells = [fmt(v) for v in ladder_row(a, step) + ladder_row(b, step)]
            print(f"{step:22} {cells[0]:>7} {cells[1]:>7} {cells[2]:>8}"
                  f" {cells[3]:>7} {cells[4]:>7} {cells[5]:>8}")


if __name__ == "__main__":
    main()
