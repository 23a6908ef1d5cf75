"""PySpark-native probabilistic stream/batch analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference stream processor (Bloom filters + Count-Min Sketch over Spark
Streaming), re-expressed Spark-first:

- relational surface: DataFrame / SQL, Catalyst does the planning
- probabilistic surface: Bloom filter, Count-Min Sketch, HLL, approx top-k,
  all as mergeable partial aggregates (commutative monoids) so they
  distribute across any number of executors
- streaming surface: Structured Streaming (windows, watermarks, stateful ops)
- LLM-data-pipeline surface: dedup (exact/MinHash-LSH/SimHash/n-gram),
  vector similarity search, text analysis, multimodal binary columns

Design target is a 1000-executor cluster over ~100 TB: every operator is
shuffle-based and mergeable; the only driver-side materializations are
kilobyte-scale sketches and final small results.
"""

__version__ = "0.1.0"

import importlib

# Public operator API — what a user of the reference engine would call —
# imported on first access (PEP 562). Importing the package, or any module
# in it, therefore pulls in neither pandas nor pyarrow nor every operator:
# the Python worker daemon (daemon.py, which ``python -m`` imports through
# this package) forks its workers from a process as small as the stock
# one, and a worker unpickling one operator imports only that operator.
_EXPORTS = {
    "get_spark": "session",
    **dict.fromkeys(("BloomFilterSketch", "NumpyBloom", "bloom_build", "bloom_might_contain"), "functions.bloom"),
    **dict.fromkeys(
        ("CountMinSketchTable", "NumpyCMS", "cms_build", "cms_estimate", "exact_vs_approx"), "functions.cms"
    ),
    **dict.fromkeys(
        (
            "approx_distinct", "approx_quantiles", "approx_top_k", "exact_top_k", "freq_items", "histogram",
            "hll_estimate",
        ),
        "functions.sketches",
    ),
    **dict.fromkeys(
        ("exact_dedup", "minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash64", "duplicate_ngram_stats"),
        "operators.dedup",
    ),
    **dict.fromkeys(("ann_lsh_topk", "centroids", "cosine_topk_bruteforce", "semdedup"), "operators.similarity"),
    "bpe_train_merges": "operators.bpe",
    "quality": "operators",
}
_RENAMED = {"bpe_train_merges": "train_merges"}
__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    module = importlib.import_module(f"{__name__}.{_EXPORTS[name]}")
    attr = _RENAMED.get(name, name)
    # as ``from module import attr``: an attribute, else a submodule
    value = getattr(module, attr) if hasattr(module, attr) else importlib.import_module(f"{module.__name__}.{attr}")
    globals()[name] = value
    return value
