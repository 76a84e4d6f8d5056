"""``tools/dump_plan.normalize``: dumps of equal plans read equal,
whatever order the process minted its ids in."""

from __future__ import annotations

from tools.dump_plan import normalize


def test_normalize_folds_call_sites_and_lambda_counters():
    first = (
        "Scan ExistingRDD [a#12L], MapPartitionsRDD[15] at localCheckpoint"
        " at <unknown>:0, ExistingRDD\n"
        "transform(xs#13, lambdafunction((lambda x_1#14 + lambda y_2#15),"
        " lambda x_1#14, lambda y_2#15, false))"
    )
    later = (
        "Scan ExistingRDD [a#907L], MapPartitionsRDD[240] at localCheckpoint"
        " at NativeMethodAccessorImpl.java:0, ExistingRDD\n"
        "transform(xs#908, lambdafunction((lambda x_20#909 + lambda y_21#910),"
        " lambda x_20#909, lambda y_21#910, false))"
    )
    assert normalize(first) == normalize(later)
    assert "RDD[_] at localCheckpoint at _," in normalize(first)
    assert "(lambda x_0#2 + lambda y_1#3)" in normalize(first)


def test_normalize_keeps_what_differs_in_shape():
    assert normalize("RDD[3] at localCheckpoint at <unknown>:0") != normalize(
        "RDD[3] at checkpoint at <unknown>:0"
    )
    # two lambda variables stay two after renumbering
    assert normalize("lambda x_5#1, lambda x_6#2") == "lambda x_0#0, lambda x_1#1"
