from hive_plan_service_spark.operators.asof import asof_join
from hive_plan_service_spark.operators.bitmask import (
    expand_groups_flat,
    expand_groups_nested,
)
from hive_plan_service_spark.operators.counter import current_counter_value
from hive_plan_service_spark.operators.dedup import (
    embedding_dup_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_pairs,
    simhash_sketches,
)
from hive_plan_service_spark.operators.joins import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from hive_plan_service_spark.operators.merge import merge_upsert
from hive_plan_service_spark.operators.multimodal import (
    attach_binary_payload,
    decode_features,
)
from hive_plan_service_spark.operators.vectors import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
)

__all__ = [
    "asof_join",
    "attach_binary_payload",
    "bucketed_join",
    "cosine_topk",
    "current_counter_value",
    "decode_features",
    "embedding_dup_pairs",
    "expand_groups_flat",
    "expand_groups_nested",
    "ivf_assign",
    "ivf_topk",
    "jaccard_pairs",
    "merge_upsert",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "salted_join",
    "simhash_pairs",
    "simhash_sketches",
    "write_bucketed",
]
