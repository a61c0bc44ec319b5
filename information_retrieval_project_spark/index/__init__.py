from .build import (  # noqa: F401
    BuildConfig,
    build_index,
    build_postings,
    collection_stats,
    doc_stats,
    read_index,
    read_index_meta,
    tokenize_tf,
    tokenize_tf_positions,
    with_doc_id,
    write_index,
)
from .merge import (  # noqa: F401
    merge_doc_stats,
    merge_index,
)
from .codec import (  # noqa: F401
    decode_postings,
    encode_postings,
    merge_sorted_runs,
    varbyte_decode,
    varbyte_encode,
)
from .positions import (  # noqa: F401
    build_positions,
    decode_position_rows,
    phrase_match_indexed,
    proximity_match_indexed,
    read_positions,
    write_positions,
)
from .bucketing import prune_terms, term_bucket_expr  # noqa: F401
