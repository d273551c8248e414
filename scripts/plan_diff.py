#!/usr/bin/env python3
"""Plan-identity check between two PlanDump output dirs.

Usage: python3 scripts/plan_diff.py <dirA> <dirB>

Each dir holds one `<row>.txt` per row, as written by
`sbt "runMain graft.PlanDump <sfDir> <outDir> [rows|all]"`. Before
comparing, the parts of a formatted plan that change from run to run
without the plan changing are normalized:
  - expression ids (`#123`, `#123L`);
  - exchange ids (`plan_id=12`);
  - whole-stage codegen ids (`[codegen id : 3]`, `WholeStageCodegen (3)`);
  - RDD ids (`MapPartitionsRDD[347]`), which count the RDDs made before;
  - JVM lambda identities (`Foo$$$Lambda$7033/0x7fc3...@12cd...`), whose
    numbers and defining class name the serialized function, not the plan;
  - scratch paths (`graftscratch:/tmp/...`, `/tmp/...`): their random
    numeric suffixes and file UUIDs.
Prints each row whose normalized plan differs (with its first differing
line on both sides) and each row present in one dir only. Exits 1 if any
row differs, else 0.
"""
import os, re, sys

EXPR_ID = re.compile(r"#\d+L?\b")
PLAN_ID = re.compile(r"plan_id=\d+")
CODEGEN = re.compile(r"(codegen id : |WholeStageCodegen \()\d+")
SCRATCH = re.compile(r"(?:graftscratch:)?/tmp/[^\s,\]]*")
RDD_ID = re.compile(r"RDD\[\d+\]")
LAMBDA = re.compile(r"[\w.$]*\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+")
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
LONG_NUM = re.compile(r"\d{6,}")


def scratch(m):
    return LONG_NUM.sub("N", UUID.sub("UUID", m.group(0)))


def normalize(text):
    text = SCRATCH.sub(scratch, text)
    text = EXPR_ID.sub("#N", text)
    text = PLAN_ID.sub("plan_id=N", text)
    text = RDD_ID.sub("RDD[N]", text)
    text = LAMBDA.sub("<lambda>", text)
    return CODEGEN.sub(lambda m: m.group(1) + "N", text)


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def first_diff(a, b):
    la, lb = a.splitlines(), b.splitlines()
    for i in range(max(len(la), len(lb))):
        x = la[i] if i < len(la) else "<end>"
        y = lb[i] if i < len(lb) else "<end>"
        if x != y:
            return i + 1, x, y
    return None


def main(da, db):
    a, b = plans(da), plans(db)
    differ = 0
    for row in sorted(a - b):
        print(f"ONLY-A {row}"); differ += 1
    for row in sorted(b - a):
        print(f"ONLY-B {row}"); differ += 1
    for row in sorted(a & b):
        pa = normalize(open(os.path.join(da, row + ".txt")).read())
        pb = normalize(open(os.path.join(db, row + ".txt")).read())
        if pa != pb:
            line, x, y = first_diff(pa, pb)
            print(f"DIFF   {row}: line {line}\n  A: {x}\n  B: {y}")
            differ += 1
    print(f"== {len(a & b)} rows compared, {differ} differ ==")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
