"""Declarative ruleset configuration: JSON document ⇄ rule list.

The reference's rule surface IS a set of declarative files — each
detector is a ``.pipe`` file whose thresholds are template parameters
with defaults (min/max bounds: tinybird/pipes/out_of_range.pipe:19-29;
the scheduled copies pin them: copy_out_of_range.pipe:24-25, and invalid
parameter combinations abort with ``{{ error(...) }}``
out_of_range.pipe:28). This module gives our engine the same deployment
shape: a checked-in JSON document in, a compiled rule list out, with the
reference's error() behavior preserved — every invalid parameter
(unknown detector type, misspelled field, impossible bound combination)
raises at CONFIG time, before any Spark job is scheduled.

Round-trip is exact: ``rules_from_config(rules_to_config(rules)) ==
rules`` for any rule list (the rules are frozen dataclasses, so equality
is field-wise). That property is what makes a ruleset diffable and
promotable across environments the way the reference promotes pipes.
"""

from __future__ import annotations

import dataclasses
import json

from .rules import (
    AggregateRule,
    AudioDecodeRule,
    BenfordRule,
    ImageDecodeRule,
    AudioQcRule,
    CalibratedRangeRule,
    CategoricalDriftRule,
    CompletenessRule,
    CusumRule,
    DriftRule,
    EntropyRule,
    EwmaRule,
    FdRule,
    GapRule,
    IqrRule,
    MadRule,
    MonotonicRule,
    NotNullRule,
    PatternRule,
    PayloadSizeRule,
    PredicateRule,
    RefMatchRule,
    ProfileSpec,
    RangeRule,
    RateOfChangeRule,
    ReconciliationRule,
    RefIntegrityRule,
    SeasonalRule,
    SpeechRateRule,
    TranscriptDistanceRule,
    TranscriptRule,
    UniqueRule,
    ValueSetRule,
    VideoDecodeRule,
    VolumeRule,
    ZScoreRule,
)

# type tag → rule class. Tags are the config-file vocabulary; they are
# deliberately snake_case nouns (what to check), not the detector strings
# (which are output labels and remain overridable per rule).
RULE_TYPES = {
    "range": RangeRule,
    "calibrated_range": CalibratedRangeRule,
    "not_null": NotNullRule,
    "pattern": PatternRule,
    "predicate": PredicateRule,
    "value_set": ValueSetRule,
    "rate_of_change": RateOfChangeRule,
    "gap": GapRule,
    "monotonic": MonotonicRule,
    "z_score": ZScoreRule,
    "seasonal": SeasonalRule,
    "iqr": IqrRule,
    "mad": MadRule,
    "cusum": CusumRule,
    "ewma": EwmaRule,
    "fd": FdRule,
    "aggregate": AggregateRule,
    "completeness": CompletenessRule,
    "unique": UniqueRule,
    "ref_integrity": RefIntegrityRule,
    "ref_match": RefMatchRule,
    "drift": DriftRule,
    "cat_drift": CategoricalDriftRule,
    "entropy": EntropyRule,
    "benford": BenfordRule,
    "volume": VolumeRule,
    "reconciliation": ReconciliationRule,
    "audio_decode": AudioDecodeRule,
    "image_decode": ImageDecodeRule,
    "video_decode": VideoDecodeRule,
    "audio_qc": AudioQcRule,
    "transcript": TranscriptRule,
    "transcript_distance": TranscriptDistanceRule,
    "speech_rate": SpeechRateRule,
    "payload_size": PayloadSizeRule,
    "profile": ProfileSpec,
}
_TYPE_OF = {cls: tag for tag, cls in RULE_TYPES.items()}


def _to_tuple(v):
    """JSON arrays → tuples, recursively (codec_sizes is a tuple of
    triples; shallow coercion would break the exact round-trip)."""
    if isinstance(v, (list, tuple)):
        return tuple(_to_tuple(x) for x in v)
    return v


def _to_list(v):
    """Inverse of _to_tuple for serialization."""
    if isinstance(v, (list, tuple)):
        return [_to_list(x) for x in v]
    return v


def rules_from_config(cfg) -> list:
    """Build a rule list from a parsed config document.

    ``cfg`` is either ``{"rules": [...]}`` or the bare list; each entry
    is ``{"type": "<tag>", <field>: <value>, ...}``. JSON arrays are
    coerced to the tuples the frozen dataclasses expect. Errors raise
    ``ValueError`` naming the offending entry — the config-time analog
    of the reference's ``{{ error(...) }}`` template aborts.
    """
    entries = cfg.get("rules") if isinstance(cfg, dict) else cfg
    if not isinstance(entries, list):
        raise ValueError("ruleset config must be a list or {'rules': [...]}")
    rules = []
    for i, entry in enumerate(entries):
        if not isinstance(entry, dict) or "type" not in entry:
            raise ValueError(f"rules[{i}]: each entry needs a 'type' key")
        tag = entry["type"]
        cls = RULE_TYPES.get(tag)
        if cls is None:
            raise ValueError(
                f"rules[{i}]: unknown rule type {tag!r} "
                f"(known: {', '.join(sorted(RULE_TYPES))})"
            )
        known = {f.name for f in dataclasses.fields(cls)}
        params = {}
        for k, v in entry.items():
            if k == "type":
                continue
            if k not in known:
                raise ValueError(
                    f"rules[{i}] ({tag}): unknown field {k!r} "
                    f"(known: {', '.join(sorted(known))})"
                )
            params[k] = _to_tuple(v) if isinstance(v, list) else v
        # constructor __post_init__ validation (impossible bounds, empty
        # allowed sets, ...) raises here — before any Spark job exists
        rules.append(cls(**params))
    return rules


def rules_to_config(rules) -> dict:
    """Inverse of :func:`rules_from_config`: a JSON-serializable document
    carrying every field (explicit > minimal — a pinned config should
    not drift when a code default changes, the same reason the copy
    pipes pin the template parameters the endpoint pipes default)."""
    out = []
    for r in rules:
        cls = type(r)
        tag = _TYPE_OF.get(cls)
        if tag is None:
            raise ValueError(f"unknown rule class {cls.__name__}")
        entry = {"type": tag}
        for f in dataclasses.fields(cls):
            v = getattr(r, f.name)
            entry[f.name] = _to_list(v) if isinstance(v, tuple) else v
        out.append(entry)
    return {"rules": out}


def schema_from_config(cfg) -> "TableSchema | None":
    """Optional ``"schema"`` key of a ruleset document → TableSchema
    (operators/schema.py), or None if the document declares none. Lets
    one checked-in file carry the full contract: table shape + rules,
    the way a reference datasource file carries SCHEMA> + engine keys
    (tinybird/datasources/incoming_data.datasource:2-9)."""
    from .schema import TableSchema

    if not isinstance(cfg, dict) or "schema" not in cfg:
        return None
    return TableSchema.from_config(cfg["schema"])


def warn_from_config(cfg) -> tuple:
    """Optional top-level ``"warn_detectors"`` key of a ruleset document
    → tuple of detector names demoted to WARN severity: their violations
    are still evaluated, emitted and quarantine-eligible per the
    engine's flags, but the per-partition verdict passes regardless of
    count (an advisory signal, not a promotion blocker). Malformed
    declarations raise at config time, like every other ruleset error."""
    if not isinstance(cfg, dict) or "warn_detectors" not in cfg:
        return ()
    w = cfg["warn_detectors"]
    if not isinstance(w, list) or not all(isinstance(x, str) and x for x in w):
        raise ValueError(
            "warn_detectors must be a list of non-empty detector names, "
            f"got {w!r}"
        )
    return tuple(w)


def load_ruleset_document(
    path: str,
) -> tuple[list, "TableSchema | None", tuple]:
    """Read a ruleset JSON file → (rules, declared table schema or None,
    warn-severity detector names)."""
    with open(path, "r", encoding="utf-8") as f:
        doc = json.load(f)
    return rules_from_config(doc), schema_from_config(doc), warn_from_config(doc)


def dump_ruleset(rules, path: str) -> None:
    """Write a rule list as a ruleset JSON file (round-trips exactly)."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(rules_to_config(rules), f, indent=2, sort_keys=False)
        f.write("\n")
