"""tools/plan_dump.py writes plans whose session counters are renumbered,
so dumps from two processes compare byte for byte."""

import importlib.util

from tests.conftest import REPO

_spec = importlib.util.spec_from_file_location("plan_dump", REPO / "tools" / "plan_dump.py")
plan_dump = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_dump)

# Two formatted-plan excerpts of one query from two fresh processes.
RUN_A = """\
(3) Project [codegen id : 1]
Output [2]: [node#1325L, label#1330L]
Input [3]: [node#1325L, label#1330L, src#1301L]

(4) Exchange
Input [2]: [node#1325L, label#1330L]
Arguments: hashpartitioning(label#1330L, 8), ENSURE_REQUIREMENTS, [plan_id=412]

(5) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=415]

(6) Scan ExistingRDD
Arguments: [node#1325L, lbl#1331L], MapPartitionsRDD[308] at localCheckpoint at \
NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)
"""
RUN_B = (
    RUN_A.replace("#1325L", "#1309L")
    .replace("#1330L", "#1314L")
    .replace("#1301L", "#1290L")
    .replace("#1331L", "#1315L")
    .replace("RDD[308]", "RDD[305]")
    .replace("plan_id=412", "plan_id=398")
    .replace("plan_id=415", "plan_id=401")
)


def test_canonical_ids_equal_across_numberings():
    assert RUN_A != RUN_B
    canon = plan_dump.canonical_ids(RUN_A)
    assert canon == plan_dump.canonical_ids(RUN_B)
    assert "node#0L, label#1L" in canon and "src#2L" in canon
    assert "[plan_id=0]" in canon and "[plan_id=1]" in canon
    assert "lbl#3L], MapPartitionsRDD[0] at" in canon


def test_canonical_ids_keep_structural_changes():
    # the Exchange partitions by `src` instead of `label`: another plan
    moved = RUN_B.replace("hashpartitioning(label#1314L", "hashpartitioning(src#1290L")
    assert plan_dump.canonical_ids(moved) != plan_dump.canonical_ids(RUN_A)
    # two references to one id become references to two ids
    split = RUN_B.replace("Input [2]: [node#1309L", "Input [2]: [node#1400L")
    assert plan_dump.canonical_ids(split) != plan_dump.canonical_ids(RUN_A)
