"""CLI analyze subcommand tests."""

import json
import os
import subprocess
import sys


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_analyze_cli_on_documents():
    res = subprocess.run(
        [sys.executable, "-m", "hetman_spark", "analyze",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--master", "local[4]"],
        cwd=REPO, capture_output=True, text=True,
    )
    assert res.returncode == 0, res.stderr[-500:]
    report = json.loads(res.stdout.strip().splitlines()[-1])
    assert report["n_docs"] == 500
    assert report["total_tokens"] > 0
    assert "en" in report["lang_guess_counts"]
    assert report["exact_dup_removable"] >= 0
    assert report["minhash_candidate_pairs"] >= 0
    # cluster-level accounting: clusters <= pairs, and a cluster of k
    # members removes k-1 docs, so removable <= pairs and removable
    # covers at least the exact dups that banded together
    assert report["neardup_clusters"] >= 0
    assert 0 <= report["neardup_cluster_removable"] <= report["minhash_candidate_pairs"]
    # PII audit block: the synthetic corpus is digit-free word salad,
    # so every count must be present and zero — a nonzero here means
    # the patterns drifted into false positives
    assert report["pii"] == {"emails": 0, "phones": 0, "ips": 0, "docs_with_pii": 0}
