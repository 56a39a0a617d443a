"""Dump `.explain(formatted)` physical plans for the headline queries into
BENCH/PLANS.md — reviewable evidence that filters/pruning reach the scan,
joins broadcast, Python stays Arrow-batched, and aggregates are
partial+final (the properties tests/test_plan_shape.py pins).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADLINE = [
    "pipe_grok_typed", "pipe_user_agent", "route_fanout",
    "agg_sink_counts", "enrich_lookup",
    "dedup_exact", "dedup_minhash_lsh", "dedup_clusters",
    "ann_cosine_topk", "ann_ivf", "sessionize", "decontaminate_ngram",
]

# one-line "what to look for" per query
NOTES = {
    "pipe_grok_typed": "ZERO Python: auto-JVM grok (packed rlike + "
                       "regexp_replace/split in one codegen span), no exchange",
    "pipe_user_agent": "one ArrowEvalPython node: the memoized UA parser "
                       "UDF over the fact rows; no exchange, no join",
    "route_fanout": "route column computed in-plan; no shuffle before the "
                    "fan-out write",
    "agg_sink_counts": "partial HashAggregate -> Exchange -> final "
                       "HashAggregate (map-side combine)",
    "enrich_lookup": "BroadcastHashJoin (dim side broadcast, fact side "
                     "streams)",
    "dedup_exact": "partial+final agg on md5 key",
    "dedup_minhash_lsh": "no self-join: pairs generated inside the bucket "
                         "row; one explode+groupBy for signatures",
    "dedup_clusters": "per-round shuffle joins over checkpointed labels "
                      "(O(1) plan depth shown: lineage is truncated)",
    "ann_cosine_topk": "BroadcastNestedLoopJoin BuildLeft: the 5-row QUERY "
                       "side broadcasts, the corpus streams",
    "ann_ivf": "literal-centroid argmin projection (zero shuffle); only k-row centroid "
                      "exchanges",
    "sessionize": "single window sort per conv partition (sessionize + turn order share one shuffle)",
    "decontaminate_ngram": "broadcast semi join on benchmark shingles; corpus never shuffled",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from logstash_filter_elastic_integration_spark import get_spark
    from logstash_filter_elastic_integration_spark import queries as Q

    spark = get_spark(cores=8, shuffle_partitions=8)
    out_path = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(out_path, "w") as f:
        f.write("# Physical plans (generated by tools/dump_plans.py)\n\n"
                f"Input: `{sf_dir}`.  What to check per query is noted "
                "above each plan; tests/test_plan_shape.py pins the "
                "load-bearing properties in CI.\n")
        import contextlib
        import io
        for name in HEADLINE:
            df = Q.QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            # strip volatile ids/paths so diffs between rounds are readable
            plan = re.sub(r"#\d+L?", "#x", plan)
            plan = re.sub(r"file:[^\s,\]]+", "file:...", plan)
            f.write(f"\n## {name}\n\n*Expect:* {NOTES.get(name, '')}\n\n"
                    f"```\n{plan}\n```\n")
    print(out_path)


if __name__ == "__main__":
    main()
