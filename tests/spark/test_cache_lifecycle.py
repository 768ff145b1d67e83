"""Operator-scoped caches: once an operator returns and its result is
collected, the CacheManager holds nothing the operator made for itself.
The only cache a caller is handed (``canonicalize``'s surface_map) is the
caller's to release."""

import pytest
from pyspark.sql import functions as F

from deduce_spark.spark import dedup, kg, similarity

_BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a stitch in time saves nine when the weather turns cold and wet",
    "all that glitters is not gold but the shine still draws the eye",
]


def _docs(spark):
    # each base text three times: verbatim, one word changed, one appended
    rows = []
    for i, t in enumerate(_BASE):
        rows += [(3 * i, t), (3 * i + 1, t.replace("the", "a", 1)),
                 (3 * i + 2, t + " again")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vectors(spark):
    rows = [(i, [float(i % 4 + 1), float(i % 3), 1.0, float(i % 2)] * 2)
            for i in range(24)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _mentions(spark):
    rows = [("Jan Jansen", "persoon"), ("jan  jansen", "persoon"),
            ("Jan Janssen", "persoon"), ("Amsterdam", "locatie"),
            ("Amsterdamm", "locatie"), ("Rotterdam", "locatie"),
            ("10 oktober 2018", "datum"), ("11 oktober 2018", "datum")]
    return spark.createDataFrame(rows, "text string, tag string")


def _candidate_components(spark):
    sigs = kg.surface_signatures(kg.surfaces(_mentions(spark)))
    return kg.connected_components(kg.candidate_pairs(sigs)).collect()


def _canonicalize(spark):
    surface_map, nodes = kg.canonicalize(_mentions(spark))
    rows = nodes.collect()
    assert surface_map.storageLevel.useMemory  # handed to the caller cached
    surface_map.unpersist()
    return rows


OPERATORS = {
    "minhash_dedup": lambda s: dedup.minhash_dedup(
        _docs(s), threshold=0.5).collect(),
    "simhash_near_dupes": lambda s: dedup.simhash_near_dupes(
        _docs(s), max_hamming=8).collect(),
    "lsh_topk": lambda s: similarity.lsh_topk(
        _vectors(s), k=3, dim=8, n_planes=2, n_tables=2).collect(),
    "semantic_dedup": lambda s: similarity.semantic_dedup(
        _vectors(s), tau=0.9, n_centroids=2, n_iters=2).collect(),
    "candidate_pairs": _candidate_components,
    "canonicalize": _canonicalize,
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_leaves_cache_manager_empty(spark, name):
    spark.catalog.clearCache()
    rows = OPERATORS[name](spark)
    assert rows  # the operator did real work
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

