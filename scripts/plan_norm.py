#!/usr/bin/env python3
"""Normalise `graft.tools.PlanDump` output so that two dumps differ only
where a physical plan really changed.

Usage:
  python3 scripts/plan_norm.py <dump>            # print the normalised dump
  python3 scripts/plan_norm.py <dumpA> <dumpB>   # unified diff of the two;
                                                 # exit 0 = same plans, 1 = not

A dump is the stdout of
  sbt -batch "runMain graft.tools.PlanDump <sfDir> <cpus> [query...]"
(sbt's `[info] ` prefix is stripped; its own log lines and the forked
JVM's stderr, which sbt prints as `[error]`, are dropped) or of the main
run directly. Everything before the first `===== <query> =====` header
is dropped.

What is rewritten, because it differs between two runs of one commit:
  - expression ids `#123` and exchange ids `plan_id=45`;
  - the per-process scratch dirs `<tmp>/graft_<q>_<sfDir key>_<pid>` and
    `<tmp>/graft_ivf_<sfDir key>_<pid>` (q45's persisted IVF layout);
  - AQE query-stage numbers (`ShuffleQueryStage 7`) and whole-stage
    codegen ids (`*(3)`), which follow the order stages happen to finish;
  - lambda variable numbers (`lambda x_4`), a JVM-wide counter that moves
    whenever an earlier query builds one more higher-order function, and
    JVM lambda class names (`$$Lambda$5580/0x…@786332de`).
"""
import difflib
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(?:file:)?[^\s\[\],()]*/graft_(q\d+)_[^/\s\],]*_\d+"), r"<scratch:\1>"),
    (re.compile(r"(?:file:)?[^\s\[\],()]*/graft_ivf_[^/\s\],]*_\d+"), "<scratch:ivf>"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"\blambda (\w+?)_\d+#"), r"lambda \1_N#"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda<N>"),
]
SBT_NOISE = ("[error]", "[warn]", "[success]")


def normalise(lines):
    out, started = [], False
    for raw in lines:
        line = raw.rstrip("\n")
        if line.startswith(SBT_NOISE):
            continue
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        if not started:
            started = line.startswith("===== ")
            if not started:
                continue
        for pat, rep in RULES:
            line = pat.sub(rep, line)
        out.append(line + "\n")
    return out


def read(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return normalise(f)


def main(argv):
    if len(argv) == 2:
        sys.stdout.writelines(read(argv[1]))
        return 0
    if len(argv) == 3:
        a, b = read(argv[1]), read(argv[2])
        diff = list(difflib.unified_diff(a, b, argv[1], argv[2]))
        sys.stdout.writelines(diff)
        return 1 if diff else 0
    sys.stderr.write(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv))
