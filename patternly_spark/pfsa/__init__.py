from patternly_spark.pfsa.model import PFSA, PFSA_SCHEMA, library_to_df, library_from_df
from patternly_spark.pfsa.llk import llk_batch, llk_matrix, score_matrix, score_sequences
from patternly_spark.pfsa.simulate import simulate, simulate_df
from patternly_spark.pfsa.genesess import genesess, fit_cluster_pfsas

__all__ = [
    "PFSA",
    "PFSA_SCHEMA",
    "library_to_df",
    "library_from_df",
    "llk_batch",
    "llk_matrix",
    "score_matrix",
    "score_sequences",
    "simulate",
    "simulate_df",
    "genesess",
    "fit_cluster_pfsas",
]
