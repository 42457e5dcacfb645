#!/usr/bin/env python
"""Generate BENCH/PLANS.md: annotated `.explain("formatted")` output for
the flagship operators, so the physical-plan claims made in SURVEY.md and
BENCH/BASELINE.md are directly inspectable instead of asserted.

Regenerate after any plan-shaping change:  python tools/plan_dossier.py
(The test suite pins the PROPERTIES; this file shows the plans.)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.01"


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def head(plan: str, n: int = 40) -> str:
    lines = plan.splitlines()
    out = lines[:n]
    if len(lines) > n:
        out.append(f"... ({len(lines) - n} more lines)")
    return "\n".join(out)


def main() -> None:
    from rendler_spark.queries import QUERIES
    from rendler_spark.session import get_spark

    spark = get_spark("local[8]", "plan_dossier", shuffle_partitions=8)
    sections: list[tuple[str, str, str]] = []

    # 1. Flagship corpus pipeline: ONE documents scan feeds all stages
    sections.append((
        "q_corpus_e2e — corpus curation flagship",
        "score -> md5 dedup -> gate -> per-lang mix -> pack as ONE query; "
        "note a single documents FileScan at the bottom feeding every "
        "stage, salted windows for the mix (no whole-group partitions), "
        "per-shard packing windows (no global sort).",
        fmt(QUERIES["q_corpus_e2e"](spark, SF)),
    ))

    # 2. RAG chunking: zero Exchanges
    sections.append((
        "q_doc_chunks — sliding-window chunking",
        "Per-row op: the whole plan is Scan -> Project/Generate inside "
        "WholeStageCodegen. NO Exchange at any corpus size.",
        fmt(QUERIES["q_doc_chunks"](spark, SF)),
    ))

    # 3. Inverted index: bucketed aggregate, no reducer bomb
    sections.append((
        "q_inverted_index — bucketed postings build",
        "Aggregate keys are (term, pmod(xxhash64(doc_id), 16)): a hot "
        "term's postings split across 16 cells, bounded per reducer; the "
        "re-merge is a second small aggregate over term.",
        fmt(QUERIES["q_inverted_index"](spark, SF)),
    ))

    # 4. TPC-H Q3 composite: broadcasted dims, pushed filters
    sections.append((
        "q_tpch_q3_shape — join composite",
        "Dimension filters pushed to scans (PushedFilters), small sides "
        "broadcast, DECIMAL aggregate partial+final.",
        fmt(QUERIES["q_tpch_q3_shape"](spark, SF)),
    ))

    out = [
        "# BENCH/PLANS.md — physical-plan dossier (generated)",
        "",
        "Generated by `python tools/plan_dossier.py` on the sf0.01 tables.",
        "The test suite PINS these properties",
        "(tests/test_plans.py, test_bucketed.py,",
        "test_registry_lint.py); this file makes the plans readable without",
        "running anything.",
        "",
    ]
    for title, note, plan in sections:
        out += [f"## {title}", "", note, "", "```", head(plan), "```", ""]
    Path("BENCH/PLANS.md").write_text("\n".join(out))
    print(f"wrote BENCH/PLANS.md ({sum(len(s[2].splitlines()) for s in sections)} plan lines)")
    spark.stop()


if __name__ == "__main__":
    main()
