"""full_lattice_search_spark — a PySpark-native lattice search + extraction engine.

A from-scratch re-expression of the computation in the reference ES plugin
``messiaen/full-lattice-search`` (full-text search over probabilistic
lattices / confusion networks) as an idiomatic PySpark batch engine:

- vectorized lattice tokenization (Arrow/pandas, numpy float32 parity)
- ordered span matching + payload scoring (Lucene SpanNearQuery semantics)
- main-content span extraction over interleaved text+media documents
- scale layer: hash partitioning, mega-doc salting, idempotent checkpoints
- training-data ops: dedup (exact/minhash/simhash/jaccard/cosine),
  similarity search, text quality analysis, multimodal plumbing.

All computation is declared through the DataFrame API so Catalyst picks the
physical strategy; Python appears only inside Arrow-batched pandas UDFs.
"""

from full_lattice_search_spark.api import parse_match_lattice, search
from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.functions.tokenizer import (
    lattice_tokenize,
    tokenize_pandas,
)
from full_lattice_search_spark.operators.match import (
    composed_cache_scope,
    match_lattice,
    release_composed_caches,
)

__all__ = [
    "LatticeConfig",
    "MatchLatticeParams",
    "lattice_tokenize",
    "tokenize_pandas",
    "composed_cache_scope",
    "match_lattice",
    "release_composed_caches",
    "parse_match_lattice",
    "search",
]

__version__ = "0.1.0"

from full_lattice_search_spark import _worker  # noqa: E402

# last, so the freeze covers every import-time object (no-op on the driver)
_worker.prepare()
