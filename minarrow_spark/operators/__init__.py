from minarrow_spark.operators.sampling import sample_mask, train_test_split
from minarrow_spark.operators.dedup import (
    augment_with_near_dups,
    doc_shingle_arrays,
    exact_dedup,
    jaccard_pairs_arr,
    lsh_candidates,
    minhash_lsh_jaccard,
    minhash_signatures,
)
from minarrow_spark.operators.clustering import kmeans_assign, kmeans_fit
from minarrow_spark.operators.graph import connected_components, dedup_clusters
from minarrow_spark.operators.pca import pca_project
from minarrow_spark.operators.joins import asof_join
from minarrow_spark.operators.similarity import (
    brute_force_topk,
    cosine_sim_sql,
    dequantize_embeddings,
    quantize_embeddings,
)

__all__ = [
    "augment_with_near_dups", "doc_shingle_arrays",
    "exact_dedup", "jaccard_pairs_arr", "lsh_candidates",
    "minhash_lsh_jaccard", "minhash_signatures", "asof_join",
    "brute_force_topk", "dequantize_embeddings", "quantize_embeddings",
    "sample_mask", "train_test_split",
    "cosine_sim_sql", "connected_components", "dedup_clusters",
    "kmeans_assign", "kmeans_fit", "pca_project",
]
