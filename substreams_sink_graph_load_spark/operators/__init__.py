from .scd2 import OP_CREATE, OP_UPDATE, OP_DELETE, OP_FINAL, scd2_versions, immutable_rows
from .bundles import bundle_start_col, boundaries, bundle_filename, expected_bundles
from .pg_csv import (
    bytea_hex,
    pg_array,
    pg_block_range,
    csv_quote,
    csv_header,
    render_entity_csv,
)
from .scd2 import state_at_block
from .bundles import write_bundled_csv, write_bundled_lines
from .ann import sample_queries, topk_matmul
from .dedup import (
    embedding_neardup_pairs,
    minhash_candidate_pairs,
    minhash_sketch,
    ngram_jaccard_pairs,
    simhash_sketch,
)
from .multimodal import attach_binary, extract_features
from .poi import poi_block_states, poi_chain, poi_entity_versions, poi_tocsv
from .skew import salted_agg, salted_join
from .graph import pagerank_ppm

__all__ = [
    "OP_CREATE",
    "OP_UPDATE",
    "OP_DELETE",
    "OP_FINAL",
    "scd2_versions",
    "immutable_rows",
    "bundle_start_col",
    "boundaries",
    "bundle_filename",
    "expected_bundles",
    "bytea_hex",
    "pg_array",
    "pg_block_range",
    "csv_quote",
    "csv_header",
    "render_entity_csv",
    "state_at_block",
    "write_bundled_csv",
    "write_bundled_lines",
    "sample_queries",
    "topk_matmul",
    "embedding_neardup_pairs",
    "minhash_candidate_pairs",
    "minhash_sketch",
    "ngram_jaccard_pairs",
    "simhash_sketch",
    "attach_binary",
    "extract_features",
    "poi_block_states",
    "poi_chain",
    "poi_entity_versions",
    "poi_tocsv",
    "salted_agg",
    "pagerank_ppm",
    "salted_join",
]
