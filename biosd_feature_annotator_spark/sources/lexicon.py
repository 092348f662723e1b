"""Ontology-term lexicon: the engine's stand-in for the reference's ZOOMA
HTTP service + memo cache (SURVEY.md §2.1 S5, ontodiscover/ZoomaOntoTermDiscoverer).

The reference resolved each distinct property-value string through a remote
ontology-mapping service and memoized results in-process. At transcript
scale a network hop per distinct string is untenable; instead the term
dictionary is a *broadcast* structure:

- ``Lexicon`` — a small plain-Python object (compiled regex alternation +
  unit map) shipped to executors inside the pandas-UDF closure; compiled
  once per Arrow-batch iterator (iterator UDF form), so the regex build is
  amortized per task, not per batch.
- ``lexicon_df`` — the (match_norm, match_kind) → (term_id, pred, conf)
  expansion as a DataFrame for the broadcast hash join in operators/link.py
  (SURVEY.md §2.4 J2). For dictionaries larger than driver memory the same
  join degrades gracefully to sort-merge by dropping the broadcast hint.
  It is built from an Arrow table (``session.local_frame``) so it plans as
  a ``LocalRelation``: broadcasting it runs no Python-worker job, and its
  exact size is what decides the broadcast hint.

Confidence semantics are frozen per FIXTURES.md §2: label exact → HIGH 1.0,
synonym exact → GOOD 0.9, all label tokens present → MEDIUM 0.7.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

CONF_LEVELS = {"label": ("HIGH", 1.0), "synonym": ("GOOD", 0.9), "tokens": ("MEDIUM", 0.7)}

_WS = re.compile(r"\s+")


def norm_surface(s: str) -> str:
    """Normalization used for memo-keying, mirroring the reference's
    trim+lowercase+whitespace-collapse (SURVEY.md §2.2 P1)."""
    return _WS.sub(" ", s.strip().lower())


@dataclass
class Lexicon:
    """Compiled broadcastable dictionary."""

    terms: list[dict]
    # surface(normalized) -> (term_id, match_kind)
    surface_map: dict[str, tuple[str, str]] = field(default_factory=dict)
    # unit synonym (normalized) -> canonical unit label ('kg' -> 'kilogram')
    unit_map: dict[str, str] = field(default_factory=dict)
    # term_ids never emitted as triples (units + context-only like 'age')
    non_emitting: set[str] = field(default_factory=set)
    # multi-token labels for the MEDIUM token-containment path
    token_labels: list[tuple[str, tuple[str, ...]]] = field(default_factory=list)

    def __post_init__(self) -> None:
        for t in self.terms:
            tid, pred = t["term_id"], t["pred"]
            label_n = norm_surface(t["label"])
            if pred == "(unit)":
                self.non_emitting.add(tid)
                for syn in {label_n, *map(norm_surface, t.get("synonyms", []))}:
                    self.unit_map[syn] = label_n
                continue
            if pred == "(context)":
                self.non_emitting.add(tid)
            # label wins over synonym on collision; first term wins ties
            # (term order in the JSON is the deterministic tie-break): a
            # label only displaces an earlier *synonym* claim on the same
            # surface, never an earlier label.
            for syn in map(norm_surface, t.get("synonyms", [])):
                self.surface_map.setdefault(syn, (tid, "synonym"))
            cur = self.surface_map.get(label_n)
            if cur is None or cur[1] == "synonym":
                self.surface_map[label_n] = (tid, "label")
            toks = tuple(label_n.split(" "))
            if len(toks) >= 2:
                self.token_labels.append((tid, toks))

    _first_tok_index: dict | None = None
    _label_token_map: dict | None = None
    _pred_map: dict | None = None

    def is_functional(self) -> bool:
        """True iff every join key the linker sees maps to exactly one
        term: surface_map is a dict (functional by construction), so the
        only fan-out risk is two distinct terms sharing a normalized
        multi-token label (two 'tokens' rows with the same match_norm in
        lexicon_df). plans/pipeline.annotate consults this to decide
        whether the zero-shuffle path (no W1 best-link window) is sound.

        It also guarantees one term per match_norm ACROSS match kinds —
        what canonicalize's rollup by term relies on (each surface joins
        exactly one star). Label and synonym rows share surface_map's
        keys, so they cannot disagree; a 'tokens' row's match_norm is its
        own term's normalized label, and surface_map holds that label as
        a *label* claim (a label displaces a synonym claim), which only a
        second term with the same multi-token label could own — exactly
        the case this check rejects."""
        return len({" ".join(toks) for _, toks in self.token_labels}) == len(
            self.token_labels
        )

    def label_token_map(self) -> dict[str, tuple]:
        """token → (term_ids of multi-token labels containing it). Lets the
        MEDIUM containment path check only *candidate* terms surfaced by
        the text's own tokens — O(text_tokens + candidates), not
        O(dictionary)."""
        if self._label_token_map is None:
            m: dict[str, list] = {}
            for tid, toks in self.token_labels:
                for t in toks:
                    m.setdefault(t, []).append((tid, toks))
            self._label_token_map = {k: tuple(v) for k, v in m.items()}
        return self._label_token_map

    def matcher_index(self) -> dict[str, list[tuple[tuple[str, ...], str]]]:
        """Token-indexed surface dictionary (the 'broadcast trie'):
        first-token → [(token_tuple, canonical_surface)] sorted longest
        first. Scanning is O(text_tokens + matches) and INDEPENDENT of
        dictionary size — a 10^6-surface ontology costs the same per byte
        as 14 terms, unlike a regex alternation which is
        O(alternatives × text). Used by operators/extract.py X5."""
        if self._first_tok_index is None:
            idx: dict[str, list[tuple[tuple[str, ...], str]]] = {}
            tok_re = re.compile(r"\w+")
            for surf in self.surface_map:
                toks = tuple(tok_re.findall(surf))
                if not toks:
                    continue
                idx.setdefault(toks[0], []).append((toks, surf))
            for v in idx.values():
                v.sort(key=lambda t: -len(t[0]))
            self._first_tok_index = idx
        return self._first_tok_index

    def term_pred(self, term_id: str) -> str | None:
        if self._pred_map is None:
            self._pred_map = {t["term_id"]: t["pred"] for t in self.terms}
        return self._pred_map.get(term_id)


def load_lexicon(path: str) -> Lexicon:
    with open(path) as f:
        data = json.load(f)
    return Lexicon(terms=data["terms"])


def lexicon_df(spark: SparkSession, lex: Lexicon) -> DataFrame:
    """(match_norm, match_kind, term_id, pred, conf, confidence) rows for
    the broadcast link join. Includes the 'tokens' pseudo-surfaces (the
    normalized multi-token label) so MEDIUM mentions resolve on the same
    join keys."""
    rows = []
    pred_of = {t["term_id"]: t["pred"] for t in lex.terms}
    label_of = {t["term_id"]: norm_surface(t["label"]) for t in lex.terms}
    for surf, (tid, kind) in lex.surface_map.items():
        lvl, conf = CONF_LEVELS[kind]
        rows.append((surf, kind, tid, pred_of[tid], label_of[tid], conf, lvl))
    for tid, toks in lex.token_labels:
        lvl, conf = CONF_LEVELS["tokens"]
        rows.append((" ".join(toks), "tokens", tid, pred_of[tid], label_of[tid], conf, lvl))
    return local_frame(
        spark,
        rows,
        "match_norm string, match_kind string, term_id string, pred string, "
        "term_label string, conf double, confidence string",
    )
