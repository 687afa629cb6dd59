"""Analysis + query configuration.

The reference carries this configuration in two places that must be kept in
sync by hand (token-filter factory settings and the ``lattice`` field mapping;
see reference ``index/LatticeTokenFilterFactory.java:39-72`` and
``mapper/LatticeFieldMapper.java:171-235``).  Here a single frozen dataclass is
the one source of truth, shared by the tokenizer, the matcher, and the
extraction pipeline.
"""

from __future__ import annotations

import json
import math
from dataclasses import asdict, dataclass, field

LATTICE_FORMAT = "lattice"
AUDIO_FORMAT = "audio"
_VALID_FORMATS = (LATTICE_FORMAT, AUDIO_FORMAT)

# Scoring constants — float32, deliberately quirky literals kept verbatim
# (reference index/query/SumLatticePayloadFunction.java:21-23:
#  MIN_SCORE = 10e-7f, MIN_LOG_SCORE = log(MIN_SCORE), SCORE_MULT = log(10e4)).
MIN_SCORE = 1e-6
MIN_LOG_SCORE = math.log(MIN_SCORE)
SCORE_MULT = math.log(1e5)
# Null payload fallback (reference index/query/FloatDecoder.java:24-44).
NULL_PAYLOAD_SCORE = 1e-5

# Multi-valued fields are concatenated with this position gap by default
# (reference mapper/LatticeFieldMapper.java:139-168, default gap 100).
DEFAULT_POSITION_INCREMENT_GAP = 100

# Follow-on token filters composable after the lattice filter (the analog
# of chaining further ES analyzers — reference README.md:214-230, phonetic
# follow-on discussion :487-493).
VALID_FOLLOW_ON = frozenset({"lowercase", "asciifold", "soundex"})


@dataclass(frozen=True)
class LatticeConfig:
    """Analysis-chain config (the analog of the reference's filter factory
    settings, ``index/LatticeTokenFilterFactory.java:39-72``).

    - ``lattice_format``: 'lattice' (token|pos|rank|score) or 'audio'
      (…|start_time|stop_time).
    - ``field_delimiter``: single-character record delimiter (default '|').
    - ``audio_position_increment_seconds``: seconds per index position for the
      audio format (default 0.01).
    - ``score_buckets``: flat [threshold, repeats, ...] pairs; a token whose
      score >= threshold (first match after sorting thresholds descending)
      is emitted ``repeats`` times at the same position (term-frequency hack;
      reference index/LatticeTokenFilterFactory.java:74-99).
    - ``position_increment_gap``: gap inserted between multi-valued entries.
    - ``lowercase``: apply the follow-on lowercase filter (the reference's
      example analyzers all chain `lowercase` after the lattice filter).
    """

    lattice_format: str = LATTICE_FORMAT
    field_delimiter: str = "|"
    audio_position_increment_seconds: float = 0.01
    score_buckets: tuple[float, ...] = field(default_factory=tuple)
    position_increment_gap: int = DEFAULT_POSITION_INCREMENT_GAP
    lowercase: bool = True
    # Composable follow-on filter chain applied to the bare term text after
    # truncation (the reference composes the lattice filter with arbitrary
    # ES token filters — README.md:214-230; :487-493 discusses a phonetic
    # follow-on).  None → legacy behavior: ('lowercase',) when `lowercase`
    # else ().  Valid names: VALID_FOLLOW_ON.
    follow_on: tuple[str, ...] | None = None

    def __post_init__(self) -> None:
        if self.lattice_format not in _VALID_FORMATS:
            raise ValueError(
                f"invalid lattice_format [{self.lattice_format}]; "
                f"expected one of {_VALID_FORMATS}"
            )
        if self.follow_on is not None:
            for f_ in self.follow_on:
                if f_ not in VALID_FOLLOW_ON:
                    raise ValueError(
                        f"unknown follow-on filter [{f_}]; expected one of "
                        f"{sorted(VALID_FOLLOW_ON)}"
                    )
        if len(self.field_delimiter) != 1:
            raise ValueError("field_delimiter must be a single character")
        if len(self.score_buckets) % 2 != 0:
            raise ValueError(
                "score_buckets must be a flat [threshold, repeats, ...] list "
                "with an even number of entries"
            )
        for t in self.thresholds():
            if not (0.0 <= t <= 1.0):
                raise ValueError(f"score bucket threshold {t} outside [0, 1]")
        for r in self.repeats():
            if int(r) != r or r < 1:
                raise ValueError(f"score bucket repeat {r} must be an int >= 1")

    def effective_follow_on(self) -> tuple[str, ...]:
        """The filter chain actually applied after the lattice filter."""
        if self.follow_on is not None:
            return self.follow_on
        return ("lowercase",) if self.lowercase else ()

    @property
    def is_audio(self) -> bool:
        return self.lattice_format == AUDIO_FORMAT

    @property
    def n_fields(self) -> int:
        """Delimiter-separated fields per token record (token incl.)."""
        return 6 if self.is_audio else 4

    def thresholds(self) -> tuple[float, ...]:
        return self.score_buckets[0::2]

    def repeats(self) -> tuple[float, ...]:
        return self.score_buckets[1::2]

    def sorted_buckets(self) -> list[tuple[float, int]]:
        """(threshold, repeats) sorted by threshold descending — first bucket
        whose threshold <= score wins (reference comparator sorts descending,
        index/LatticeTokenFilterFactory.java:75-87)."""
        pairs = list(zip(self.thresholds(), (int(r) for r in self.repeats())))
        return sorted(pairs, key=lambda p: -p[0])

    def to_json(self) -> str:
        d = asdict(self)
        d["score_buckets"] = list(d["score_buckets"])
        if d.get("follow_on") is not None:
            d["follow_on"] = list(d["follow_on"])
        return json.dumps(d, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "LatticeConfig":
        d = json.loads(s)
        d["score_buckets"] = tuple(d.get("score_buckets", ()))
        if d.get("follow_on") is not None:
            d["follow_on"] = tuple(d["follow_on"])
        return cls(**d)


@dataclass(frozen=True)
class MatchLatticeParams:
    """``match_lattice`` query parameters; names and defaults mirror the
    reference query builder (index/query/MatchLatticeQueryBuilder.java:61-88,
    defaults golden at MatchLatticeQueryBuilderTests.java:136-150)."""

    slop: int = 0
    slop_seconds: float = 3.0
    in_order: bool = True
    include_span_score: bool = True
    payload_function: str = "sum"  # sum | max | min
    payload_length_norm_factor: float = 1.0
    zero_terms_query: str = "none"  # none | all
    boost: float = 1.0
    # Similarity flavor multiplied in when include_span_score=True:
    # - "engine": the engine-native relational BM25 (bm25_from_tf) —
    #   tf = occurrence count, dl = total token count, float64 math.
    # - "lucene": the reconstructed ES-7.x Lucene span similarity
    #   (LegacyBM25 k1+1, sloppy freq = sum of 1/(1+span width),
    #   norm-discounted + SmallFloat-quantized dl, float32 composition) —
    #   reproduces the reference's published end-to-end scores
    #   (FIXTURES.md §6).  Every path composes it: doc scan, token table
    #   and token index (q_match_lucene_prefix_indexed).
    similarity: str = "engine"  # engine | lucene

    def __post_init__(self) -> None:
        if self.payload_function not in ("sum", "max", "min"):
            raise ValueError(
                f"unknown payload_function [{self.payload_function}]"
            )
        if self.zero_terms_query not in ("none", "all"):
            raise ValueError(f"invalid zero_terms_query [{self.zero_terms_query}]")
        if self.similarity not in ("engine", "lucene"):
            raise ValueError(f"unknown similarity [{self.similarity}]")

    def effective_slop(self, config: LatticeConfig, num_terms: int) -> int:
        """Audio format converts slop_seconds → position slop:
        ``floor(slop_seconds / incSecs) - (numTerms - 2) - 1`` in float32
        (reference index/query/MatchLatticeQueryBuilder.java:349-354)."""
        if not config.is_audio:
            return self.slop
        import numpy as np

        ratio = np.float32(self.slop_seconds) / np.float32(
            config.audio_position_increment_seconds
        )
        return int(np.floor(ratio)) - (num_terms - 2) - 1

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "MatchLatticeParams":
        return cls(**json.loads(s))
