"""Self-checks of the benchmark's own machinery.

    python3 perfbench/run.py --selfcheck

* span self time = duration minus the union of the child intervals;
* the generators are deterministic: the same seed gives the same input
  digest, another seed a different one.
"""

from __future__ import annotations

import os
import shutil
import sys

from perfbench import gen
from perfbench.trace import Span, Tracer, covered, self_time


def check_spans() -> list[str]:
    fails = []
    parent = Span("p", 0.0, 10.0)
    kids = [Span("a", 1.0, 3.0), Span("b", 2.0, 5.0), Span("c", 8.0, 12.0)]
    # union inside [0, 10]: [1, 5] and [8, 10] → 6 s covered, 4 s self
    if abs(covered([(k.start, k.end) for k in kids], 0.0, 10.0) - 6.0) > 1e-12:
        fails.append("covered(): overlapping children not merged")
    if abs(self_time(parent, kids) - 4.0) > 1e-12:
        fails.append(f"self_time() = {self_time(parent, kids)}, want 4.0")
    if self_time(parent, []) != 10.0:
        fails.append("self_time() without children is not the duration")
    if self_time(parent, [Span("all", -1.0, 11.0)]) != 0.0:
        fails.append("self_time() of a fully covered span is not 0")
    tr = Tracer("check")
    with tr.span("root"):
        with tr.span("child"):
            pass
    root, child = tr.spans
    if child.parent != root.id or tr.subtree("root") != {root.id, child.id}:
        fails.append("Tracer: parent links or subtree wrong")
    if not 0.0 <= self_time(root, [child]) <= root.duration:
        fails.append("Tracer: self time outside [0, duration]")
    return fails


def check_generators(spark, work: str) -> list[str]:
    fails = []
    base = os.path.join(work, "selfcheck")
    shutil.rmtree(base, ignore_errors=True)
    for family, make, n in (("images", gen.materialise_images, 2 * gen.BLOCK),
                            ("keys", gen.materialise_keys, 20_000)):
        d = {}
        for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
            meta = make(n, seed, out=os.path.join(base, f"{family}-{tag}"))
            d[tag] = gen.input_digest(spark, meta)
        print(f"# {family}: seed 5 -> {d['a']} and {d['b']}; seed 6 -> {d['c']}",
              file=sys.stderr)
        if d["a"] != d["b"]:
            fails.append(f"{family}: the same seed gave different inputs")
        if d["a"] == d["c"]:
            fails.append(f"{family}: two seeds gave the same inputs")
    shutil.rmtree(base, ignore_errors=True)
    return fails


def main() -> int:
    from perfbench.run import Session, prepare_env

    fails = check_spans()
    sess = Session(prepare_env())
    try:
        sess.start()
        fails += check_generators(sess.spark, os.path.join(gen.WORK))
    finally:
        sess.close()
    for f in fails:
        print(f"SELFCHECK FAILED: {f}", file=sys.stderr)
    print("selfcheck " + ("failed" if fails else "passed"))
    return 1 if fails else 0
