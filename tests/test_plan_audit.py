"""Plan-regression pin (r9): every declared query's physical-plan
audit — smell flags, parquet-scan count, pushed-filter count — must
match the checked-in golden. An edit that un-pushes a filter, adds a
scan, or introduces a cartesian now fails the suite instead of waiting
for a round review.

Regenerate after an INTENTIONAL plan change with::

    python tools/plan_audit.py /root/testdata/sf0.001 --write-golden

and justify the diff in the commit message."""

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.plan_audit import (  # noqa: E402
    GOLDEN_PATH, audit_all, repeated_python_udfs,
)


def test_plans_match_golden(spark, sf_dir):
    with open(GOLDEN_PATH) as fh:
        golden = json.load(fh)
    got = audit_all(spark, sf_dir)

    assert sorted(got) == sorted(golden), (
        "query registry changed — regenerate the plan golden"
    )
    diffs = {
        name: {"golden": golden[name], "got": got[name]}
        for name in golden
        if got[name] != golden[name]
    }
    assert not diffs, (
        "physical plans drifted from tests/golden/plan_audit.json "
        "(un-pushed filter / extra scan / new join smell?). If the "
        "change is intentional, regenerate with tools/plan_audit.py "
        f"--write-golden. Diffs: {json.dumps(diffs, indent=1)}"
    )
    # the flag set itself stays pinned to the 9 documented-intentional
    # shapes — any NEW flagged query is a regression even if golden
    # were regenerated without review
    flagged = {n for n, r in got.items() if r["flags"]}
    assert flagged == {
        "tpch_q22_dormant_customers", "tpch_q11_important_stock",
        "similarity_cosine_topk", "contrastive_hard_negatives",
        "text_tfidf_top_terms", "corpus_mix_weights",
        "basket_affinity_parts", "profile_columns_exact",
        "events_rfm_segments",
    }


def test_repeated_python_udf_flag():
    """The same UDF id in two eval nodes on one path is a repeat (a
    filter on its result pushed below its projection); the same id in
    two union branches is one evaluation per row."""
    nested = """*(2) Project [m#5, pythonUDF0#15 AS v#10]
+- ArrowEvalPython [dec(m#5, substring(p#1, 5, map(keys: [a], values: [3])[m#5]))#9], [pythonUDF0#15], 200
   +- *(1) Filter (isnotnull(pythonUDF0#14) AND (size(pythonUDF0#14, false) > 0))
      +- ArrowEvalPython [dec(m#5, substring(p#1, 5, map(keys: [a], values: [3])[m#5]))#9], [pythonUDF0#14], 200
         +- Scan ExistingRDD[m#5,p#1]
"""
    union = """Generate posexplode(v#34), [m#7], true, [pos#35, value#36]
+- Union
   :- ArrowEvalPython [dec(m#7, substring(pythonUDF0#44, 5))#33], [pythonUDF0#45], 200
   :  +- ArrowEvalPython [enc(t#1)#8], [pythonUDF0#44], 200
   :     +- FileScan parquet [t#1]
   +- ArrowEvalPython [dec(m#20, substring(pythonUDF0#46, 5))#33], [pythonUDF0#47], 200
      +- ArrowEvalPython [enc(t#15)#10], [pythonUDF0#46], 200
         +- FileScan parquet [t#15]
"""
    assert repeated_python_udfs(nested) == {"9"}
    assert repeated_python_udfs(union) == set()
