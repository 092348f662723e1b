"""Seeded input generator for the benchmark.

Every workload's input is a pure function of ``(workload, seed, size)``:
the same seed writes byte-identical files, and the engine only ever sees
those files. Alongside the input the generator writes the outputs the
input implies *by construction* (which sentence template or lexicon
surface it planted in which turn), so the output check never asks the
engine what the right answer is.

Text is built from three kinds of pieces whose extraction is unambiguous
under the frozen grammar (FIXTURES.md §3):

- filler words, checked against the lexicon so they never match a term,
  a unit, an age-context word or a date/range keyword;
- value sentences (number / range / date / age) appended at the END of a
  turn, so the token after each number is the template's own unit word;
- lexicon surfaces: three golden organism surfaces for the text shape, and
  for the entity shape the synthetic ``SYN_*`` terms of ``bench_lexicon``
  whose label tokens and synonym occur in no other surface of the
  dictionary (so leftmost-longest matching and the all-label-tokens
  MEDIUM path can only ever find the planted term).
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LEXICON_TERMS = 5000  # synthetic terms on top of the golden lexicon

FILLER = (
    "the report covers general topics plain filler words about shipping "
    "logistics summary notes review context detail update status pending "
    "complete draft team meeting agenda follow request budget invoice "
    "schedule project client design feedback version release ticket support "
    "account answer question please thanks okay sure later today weekly "
    "plan scope and with for from this that was were will could should"
).split()

TEXT_WORDS = 40  # filler words per text-shaped turn
RICH_RATE = 0.3  # share of text-shaped turns ending in a value sentence
PER_TURN = 3  # entities named per entity-shaped turn
ZIPF_S = 1.1  # entity popularity exponent
LABEL_SHARE = 0.7  # entity mentions by label rather than by synonym

ROLES = ("user", "assistant")
TOOLS = ("search", "calc", "lookup", "fetch")

# value-bearing templates for the text shape: (template, pred, obj, kind,
# unit); {a} < {b} integers and {d} a day of March 2019, filled in by
# str.format
TEXT_TEMPLATES = (
    ("measured {a} kg at intake", "hasNumber", "num:{a}", "number", "kilogram"),
    ("dose {a} to {b} cm recorded", "hasRange", "range:[{a},{b}]centimeter", "range",
     "centimeter"),
    ("collected on 2019-03-{d} from site", "hasDate", "date:2019-03-{d}", "date", None),
    ("donor aged {a} years", "hasAge", "num:{a}", "number", "year"),
    ("the organism is homo sapiens", "hasOrganism", "NCBITaxon_9606", "term", None),
    ("we used mus musculus strains", "hasOrganism", "NCBITaxon_10090", "term", None),
    ("sample from a human donor", "hasOrganism", "NCBITaxon_9606", "term", None),
)
# (surface, term_id, canonical label, matched by) planted by the organism
# templates
TEXT_SURFACES = {
    4: ("homo sapiens", "NCBITaxon_9606", "homo sapiens", "label"),
    5: ("mus musculus", "NCBITaxon_10090", "mus musculus", "label"),
    6: ("human", "NCBITaxon_9606", "homo sapiens", "synonym"),
}
# (conf, confidence) of a link by what the surface matched, the tiers of
# sources/lexicon.py; extracted values and structural triples are (1.0, HIGH)
LINK_CONF = {"label": (1.0, "HIGH"), "synonym": (0.9, "GOOD")}

TURN_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
# every column of operators/link.TRIPLE_COLS
TRIPLE_SCHEMA = pa.schema([
    ("subj", pa.string()), ("pred", pa.string()),
    ("obj", pa.string()), ("obj_kind", pa.string()),
    ("conf", pa.float64()), ("confidence", pa.string()),
    ("unit", pa.string()), ("provenance", pa.string()),
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
])
NODE_SCHEMA = pa.schema([
    ("node_id", pa.string()), ("node_kind", pa.string()),
    ("canonical_label", pa.string()), ("aliases", pa.string()),
    ("n_mentions", pa.int64()),
])
EDGE_SCHEMA = pa.schema([
    ("src", pa.string()), ("dst", pa.string()),
    ("rel", pa.string()), ("weight", pa.float64()),
])

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
_TOKEN = re.compile(r"\w+")


def bench_terms() -> list[dict]:
    """The engine's benchmark lexicon as plain term dicts."""
    from biosd_feature_annotator_spark.synth import bench_lexicon

    return bench_lexicon(LEXICON_TERMS).terms


def _norm(s: str) -> str:
    return " ".join(s.strip().lower().split())


def clean_entity_pool(terms: list[dict]) -> list[tuple[str, str, str]]:
    """(term_id, label, synonym) of every synthetic term whose label
    tokens and synonym appear in no other surface of the dictionary."""
    tok_count: Counter = Counter()
    for t in terms:
        surfaces = {_norm(t["label"]), *(_norm(s) for s in t.get("synonyms", []))}
        for s in surfaces:
            tok_count.update(set(_TOKEN.findall(s)))
    pool = []
    for t in terms:
        if not t["term_id"].startswith("SYN_"):
            continue
        label, syn = _norm(t["label"]), _norm(t["synonyms"][0])
        toks = _TOKEN.findall(label) + [syn]
        if len(toks) == 3 and all(tok_count[x] == 1 for x in toks):
            pool.append((t["term_id"], label, syn))
    return pool


def check_filler(terms: list[dict]) -> None:
    """Refuse a filler word that the extractor could read as anything."""
    reserved = {"age", "aged", "old", "in", "since", "year", "between", "to"}
    months = ("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug",
              "sep", "oct", "nov", "dec")
    for t in terms:
        for s in (t["label"], *t.get("synonyms", [])):
            reserved.update(_TOKEN.findall(_norm(s)))
    bad = [w for w in FILLER if w in reserved or w.startswith(months)]
    if bad:
        raise ValueError(f"filler words collide with the lexicon: {bad}")


def _conversations(rng: np.random.Generator, n_turns: int):
    """conv_id, turn_idx, role, tool, ts arrays for about n_turns turns in
    conversations of 2-8 turns, 10% of turns by a tool."""
    lens = rng.integers(2, 9, size=n_turns // 2 + 8)
    lens = lens[: int(np.searchsorted(np.cumsum(lens), n_turns)) + 1]
    n = int(lens.sum())
    conv_no = np.repeat(np.arange(len(lens)), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn_idx = (np.arange(n) - starts).astype(np.int32)
    is_tool = rng.random(n) < 0.1
    tool_pick = rng.integers(0, len(TOOLS), size=n)
    conv_ids = [f"c{c:08d}" for c in conv_no]
    roles = ["tool" if is_tool[i] else ROLES[turn_idx[i] % 2] for i in range(n)]
    tools = [TOOLS[tool_pick[i]] if is_tool[i] else None for i in range(n)]
    ts = [_EPOCH + _dt.timedelta(seconds=37 * i) for i in range(n)]
    return conv_ids, turn_idx, roles, tools, ts


def _triple(conv_id: str, turn_idx, pred: str, obj: str, kind: str, *,
            unit: str | None = None, provenance: str = "extract",
            match: str | None = None) -> tuple:
    """One expected triple row in TRIPLE_SCHEMA order; ``match`` is what a
    linked surface matched (label or synonym)."""
    conf, confidence = LINK_CONF[match] if match else (1.0, "HIGH")
    return (f"{conv_id}:{turn_idx}", pred, obj, kind, conf, confidence, unit,
            provenance, conv_id, int(turn_idx))


def _structural(conv_ids, turn_idx, roles, tools) -> list[tuple]:
    out = [_triple(c, t, "saidBy", f"role:{r}", "role", provenance="structural")
           for c, t, r in zip(conv_ids, turn_idx, roles)]
    out += [_triple(c, t, "usesTool", f"tool:{u}", "tool", provenance="structural")
            for c, t, u in zip(conv_ids, turn_idx, tools) if u]
    return out


def _graph(mentions: list[tuple[str, str, str]]):
    """nodes/edges that canonicalize() derives from (term_id, surface,
    canonical label) linked mentions under a functional dictionary."""
    edge_w: Counter = Counter((surf, tid) for tid, surf, _ in mentions)
    label = {tid: lab for tid, _, lab in mentions}
    n_ment: Counter = Counter(tid for tid, _, _ in mentions)
    aliases: dict[str, set] = {}
    for tid, surf, _ in mentions:
        aliases.setdefault(tid, set()).add(surf)
    nodes = [(tid, "entity", label[tid], "|".join(sorted(aliases[tid])), n_ment[tid])
             for tid in sorted(n_ment)]
    edges = [(f"1:{s}", f"0:{t}", "linksTo", float(w))
             for (s, t), w in sorted(edge_w.items())]
    return nodes, edges


def campaign_text(seed: int, n_turns: int) -> dict:
    """Long conversational turns (``TEXT_WORDS`` filler words), ``RICH_RATE``
    of them ending in one value-bearing sentence: extraction-heavy, almost
    no linking."""
    check_filler(bench_terms())
    rng = np.random.default_rng([seed, 1])
    conv_ids, turn_idx, roles, tools, ts = _conversations(rng, n_turns)
    n = len(conv_ids)
    words = rng.integers(0, len(FILLER), size=(n, TEXT_WORDS))
    rich = rng.random(n) < RICH_RATE
    tmpl = rng.integers(0, len(TEXT_TEMPLATES), size=n)
    a = rng.integers(1, 91, size=n)
    b = a + rng.integers(1, 51, size=n)
    d = rng.integers(1, 29, size=n)
    texts, triples, mentions = [], [], []
    for i in range(n):
        text = " ".join(FILLER[w] for w in words[i])
        if rich[i]:
            k = int(tmpl[i])
            sentence, pred, obj, kind, unit = TEXT_TEMPLATES[k]
            vals = {"a": int(a[i]), "b": int(b[i]), "d": f"{int(d[i]):02d}"}
            text = f"{text} {sentence.format(**vals)}"
            if k in TEXT_SURFACES:
                surf, tid, label, match = TEXT_SURFACES[k]
                triples.append(_triple(conv_ids[i], turn_idx[i], pred, obj, kind,
                                       provenance="link", match=match))
                mentions.append((tid, surf, label))
            else:
                triples.append(_triple(conv_ids[i], turn_idx[i], pred,
                                       obj.format(**vals), kind, unit=unit))
        texts.append(text)
    structural = _structural(conv_ids, turn_idx, roles, tools)
    nodes, edges = _graph(mentions)
    return dict(
        turns=(conv_ids, turn_idx, roles, texts, tools, ts),
        extracted=triples, structural=structural, nodes=nodes, edges=edges,
    )


def campaign_entities(seed: int, n_turns: int) -> dict:
    """Short turns that each name ``PER_TURN`` distinct lexicon entities
    drawn from a Zipf(``ZIPF_S``) popularity, by label with probability
    ``LABEL_SHARE`` and by synonym otherwise: a few hot entities dominate,
    so linking, canonicalization and the graph write carry the load."""
    terms = bench_terms()
    check_filler(terms)
    pool = clean_entity_pool(terms)
    rng = np.random.default_rng([seed, 2])
    order = rng.permutation(len(pool))  # which entities are hot
    p = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_S
    cdf = np.cumsum(p / p.sum())
    conv_ids, turn_idx, roles, tools, ts = _conversations(rng, n_turns)
    n = len(conv_ids)
    draws = np.minimum(np.searchsorted(cdf, rng.random((n, 4 * PER_TURN))), len(pool) - 1)
    use_label = rng.random((n, PER_TURN)) < LABEL_SHARE
    glue = rng.integers(0, len(FILLER), size=(n, PER_TURN + 1))
    texts, triples, mentions = [], [], []
    for i in range(n):
        picked: list[int] = []
        for r in draws[i]:
            e = int(order[r])
            if e not in picked:
                picked.append(e)
                if len(picked) == PER_TURN:
                    break
        parts = [FILLER[glue[i, 0]]]
        for j, e in enumerate(picked):
            tid, label, syn = pool[e]
            match = "label" if use_label[i, j] else "synonym"
            surf = label if match == "label" else syn
            parts += [surf, FILLER[glue[i, j + 1]]]
            triples.append(_triple(conv_ids[i], turn_idx[i], "hasEntity", tid, "term",
                                   provenance="link", match=match))
            mentions.append((tid, surf, label))
        texts.append(" ".join(parts))
    structural = _structural(conv_ids, turn_idx, roles, tools)
    nodes, edges = _graph(mentions)
    return dict(
        turns=(conv_ids, turn_idx, roles, texts, tools, ts),
        extracted=triples, structural=structural, nodes=nodes, edges=edges,
    )


def _turn_table(turns) -> pa.Table:
    conv_ids, turn_idx, roles, texts, tools, ts = turns
    return pa.Table.from_arrays(
        [pa.array(conv_ids), pa.array(turn_idx, pa.int32()), pa.array(roles),
         pa.array(texts), pa.array(tools, pa.string()),
         pa.array(ts, pa.timestamp("us", tz="UTC"))],
        schema=TURN_SCHEMA,
    )


def write_campaign(corpus: dict, root: str) -> int:
    """Write ``input/turns.parquet`` and the expected ``triples`` (all
    three streams), ``extracted`` (term + value streams only), ``nodes``
    and ``edges`` under ``expected/``. Returns the number of turns."""
    os.makedirs(os.path.join(root, "input"), exist_ok=True)
    os.makedirs(os.path.join(root, "expected"), exist_ok=True)
    table = _turn_table(corpus["turns"])
    pq.write_table(table, os.path.join(root, "input", "turns.parquet"))
    _write_expected(corpus, root)
    return table.num_rows


def write_stream(corpus: dict, root: str, n_files: int) -> int:
    """Split the turns into ``n_files`` parquet files (whole conversations
    per file) in ``input/drop`` with strictly increasing modification
    times, the order Spark's file source replays them in."""
    drop = os.path.join(root, "input", "drop")
    os.makedirs(drop, exist_ok=True)
    os.makedirs(os.path.join(root, "expected"), exist_ok=True)
    table = _turn_table(corpus["turns"])
    conv = np.asarray(table.column("conv_id").to_pylist())
    cuts = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    # move each cut forward to a conversation boundary
    for k in range(1, n_files):
        c = cuts[k]
        while 0 < c < table.num_rows and conv[c] == conv[c - 1]:
            c += 1
        cuts[k] = c
    base = 1_600_000_000
    for k in range(n_files):
        path = os.path.join(drop, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(cuts[k], cuts[k + 1] - cuts[k]), path)
        os.utime(path, (base + k, base + k))
    _write_expected(corpus, root)
    return table.num_rows


def _write_expected(corpus: dict, root: str) -> None:
    exp = os.path.join(root, "expected")

    def put(name, rows, schema):
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        pq.write_table(
            pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, schema)],
                                 schema=schema),
            os.path.join(exp, f"{name}.parquet"),
        )

    put("extracted", corpus["extracted"], TRIPLE_SCHEMA)
    put("triples", corpus["extracted"] + corpus["structural"], TRIPLE_SCHEMA)
    put("nodes", corpus["nodes"], NODE_SCHEMA)
    put("edges", corpus["edges"], EDGE_SCHEMA)
