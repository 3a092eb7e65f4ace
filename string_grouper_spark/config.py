"""Configuration for the PySpark-native string-similarity engine.

Field names/defaults mirror the reference ``StringGrouperConfig``
(/root/reference/string_grouper/string_grouper.py:17-37, 156-202) so a user of
the reference can pass the same kwargs.  Fields that only make sense for the
single-node reference (``number_of_processes``, ``n_blocks``,
``tfidf_matrix_dtype``) are accepted and mapped onto Spark-level knobs
(parallelism hints / float precision) or ignored as documented.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields, replace
from typing import Optional, Tuple

DEFAULT_NGRAM_SIZE: int = 3
DEFAULT_REGEX: str = r"[,-./]|\s"
DEFAULT_MAX_N_MATCHES: int = 20
DEFAULT_MIN_SIMILARITY: float = 0.8
DEFAULT_IGNORE_CASE: bool = True
DEFAULT_DROP_INDEX: bool = False
DEFAULT_REPLACE_NA: bool = False
DEFAULT_INCLUDE_ZEROES: bool = True
GROUP_REP_CENTROID: str = "centroid"
GROUP_REP_FIRST: str = "first"
DEFAULT_GROUP_REP: str = GROUP_REP_CENTROID
DEFAULT_FORCE_SYMMETRIES: bool = True
DEFAULT_NORMALIZE_TO_ASCII: bool = True

# Output-column naming constants (reference string_grouper.py:40-49).
DEFAULT_COLUMN_NAME: str = "side"
DEFAULT_ID_NAME: str = "id"
LEFT_PREFIX: str = "left_"
RIGHT_PREFIX: str = "right_"
MOST_SIMILAR_PREFIX: str = "most_similar_"
DEFAULT_MASTER_NAME: str = "master"
DEFAULT_MASTER_ID_NAME: str = f"{DEFAULT_MASTER_NAME}_{DEFAULT_ID_NAME}"
GROUP_REP_PREFIX: str = "group_rep_"


@dataclass(frozen=True)
class MatchConfig:
    """Engine options.  Same names as the reference StringGrouperConfig."""

    ngram_size: int = DEFAULT_NGRAM_SIZE
    regex: str = DEFAULT_REGEX
    max_n_matches: int = DEFAULT_MAX_N_MATCHES
    min_similarity: float = DEFAULT_MIN_SIMILARITY
    ignore_case: bool = DEFAULT_IGNORE_CASE
    ignore_index: bool = DEFAULT_DROP_INDEX
    include_zeroes: bool = DEFAULT_INCLUDE_ZEROES
    replace_na: bool = DEFAULT_REPLACE_NA
    group_rep: str = DEFAULT_GROUP_REP
    force_symmetries: bool = DEFAULT_FORCE_SYMMETRIES
    normalize_to_ascii: bool = DEFAULT_NORMALIZE_TO_ASCII
    # Reference-compat knobs remapped to Spark concepts:
    #   number_of_processes -> ignored (executor parallelism rules)
    #   n_blocks            -> ignored (Spark partitioning rules); validated only
    #   tfidf_matrix_dtype  -> 'float64'|'float32' weight precision
    number_of_processes: Optional[int] = None
    n_blocks: Optional[Tuple[int, int]] = None
    tfidf_matrix_dtype: str = "float64"

    # --- Spark-scale extensions (no reference counterpart) ---
    # Drop grams whose document frequency exceeds this ratio of the corpus
    # during CANDIDATE GENERATION only (never during exact re-scoring).
    # None disables.  At web scale hot grams (e.g. 'the') explode the
    # inverted-index self-join; the reference has no such guard because it
    # does a dense blocked matmul instead.
    candidate_max_df_ratio: Optional[float] = None

    def __post_init__(self) -> None:
        if self.group_rep not in (GROUP_REP_CENTROID, GROUP_REP_FIRST):
            raise Exception(
                "Invalid option value for group_rep. The only permitted values are\n "
                f"('{GROUP_REP_FIRST}', '{GROUP_REP_CENTROID}')"
            )
        if self.tfidf_matrix_dtype not in ("float64", "float32"):
            raise Exception(
                "Invalid option value for tfidf_matrix_dtype. The only permitted "
                "values are\n ('float64', 'float32')"
            )
        if self.ignore_index and self.replace_na:
            raise Exception("replace_na can only be set to True when ignore_index=False.")
        self._validate_n_blocks(self.n_blocks)

    @staticmethod
    def _validate_n_blocks(n_blocks) -> None:
        # Reference semantics (string_grouper.py:939-952): None or 2-tuple of ints >= 1.
        errmsg = (
            "Invalid option value for parameter n_blocks: n_blocks must be None "
            "or a tuple of 2 integers greater than 0."
        )
        if n_blocks is None:
            return
        if not isinstance(n_blocks, tuple) or len(n_blocks) != 2:
            raise Exception(errmsg)
        if not (isinstance(n_blocks[0], int) and isinstance(n_blocks[1], int)):
            raise Exception(errmsg)
        if n_blocks[0] < 1 or n_blocks[1] < 1:
            raise Exception(errmsg)

    def evolve(self, **kwargs) -> "MatchConfig":
        return replace(self, **kwargs)

    @classmethod
    def from_kwargs(cls, **kwargs) -> "MatchConfig":
        """Build from reference-style kwargs; numpy dtypes accepted."""
        dtype = kwargs.get("tfidf_matrix_dtype")
        if dtype is not None and not isinstance(dtype, str):
            name = getattr(dtype, "__name__", str(dtype))
            kwargs["tfidf_matrix_dtype"] = name
        valid = {f.name for f in fields(cls)}
        unknown = set(kwargs) - valid
        if unknown:
            raise TypeError(f"Unknown config option(s): {sorted(unknown)}")
        return cls(**kwargs)
