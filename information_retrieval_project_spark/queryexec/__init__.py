from .bm25 import (  # noqa: F401
    bm25_scores,
    bm25_topk,
    bm25_topk_batch,
    query_terms_df,
    topk,
)
from .facets import facet_counts, matched_docs  # noqa: F401
from .tfidf import tfidf_cosine_topk, tfidf_weights  # noqa: F401
from .wand import (  # noqa: F401
    bm25_phrase_topk_compressed,
    bm25_topk_compressed,
)
