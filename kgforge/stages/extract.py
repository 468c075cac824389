"""Stages B2/B3 — mention detection + pattern/dependency-style triple
extraction, as Arrow-batched ``mapInPandas`` passes.

Reference parity: the reference consumes pre-extracted integer triples
(OpenKEonSpark ``base/Reader.h::importTrainFiles``, recalled symbol —
SURVEY.md §0); extraction is the construction-pipeline extension mandated
by BASELINE.json north_star ("batched Arrow/pandas-UDF mention detection
and pattern-plus-dependency triple extraction").

Design:
* The gazetteer and pattern grammar are *small* dictionaries — compiled
  into regexes once per executor (module-level cache keyed by a
  fingerprint), shipped via broadcast-sized closure, never joined row-wise.
* Matching runs inside each Arrow record batch: a Python loop applies
  the compiled regex's ``finditer`` to every text (the triple pass first
  skips texts lacking the pattern's literal middle), collects the hits
  into column lists and emits one frame per batch — no per-row UDFs.
* "Dependency-style" = passive/inverse templates map captured argument
  order back to canonical (subj, pred, obj) — e.g. "B was acquired by A"
  emits (A, acquired, B).
* Deterministic: rule grammar + seeded fixtures ⇒ golden triples are
  recoverable exactly (the P/R ≥ 0.95 gate runs at 1.0 on fixtures).

Scale: a 100 TB transcript table maps straight through — extraction is
embarrassingly parallel per input partition (no shuffle at all; Catalyst
prunes to the columns the UDF needs).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, mention_id string, surface string, "
    "start int, end int, mtype string"
)
TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, subj string, pred string, obj string, "
    "extractor string"
)

# word-ish boundaries that tolerate surfaces ending in punctuation
_B_L = r"(?<![A-Za-z0-9])"
_B_R = r"(?![A-Za-z0-9])"


#: generic hyphen-joined token — catches alias variants absent from the
#: gazetteer (e.g. "Acme-Corp"); canonicalization (B7/B8) links them back.
#: Ordinary prose in the domain carries no hyphens, so this branch never
#: over-captures known text; at the end of the alternation it only fires
#: when no dictionary surface matches.
_HYPH_TOKEN = r"[A-Za-z][A-Za-z0-9]*(?:-[A-Za-z][A-Za-z0-9]*)+"


def _trie_pattern(words: list[str]) -> str:
    """Prefix-factored alternation (classic trie-regex construction —
    public technique; ``re`` does not factor shared prefixes itself).

    Semantics match a longest-first flat alternation: the optional
    terminal ``(?:...)?`` is greedy, so the engine always tries the
    deeper (longer) surface first and backtracks to the shorter one —
    measured ~2x faster than the flat 200-way alternation, identical
    matches (asserted in tests).
    """
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node["$"] = {}

    def emit(node: dict) -> str:
        term = "$" in node
        keys = sorted(k for k in node if k != "$")
        if not keys:
            return ""
        alts = [re.escape(ch) + emit(node[ch]) for ch in keys]
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        return "(?:" + body + ")?" if term else body

    return emit(trie)


def _entity_alt(surfaces: list[str], generic: bool = True) -> str:
    # skip the trie branch entirely for an empty surface list:
    # _trie_pattern([]) is "" and an empty alternation branch matches the
    # empty string at every position (zero-length-match hazard)
    alts = [_trie_pattern(sorted(set(surfaces)))] if surfaces else []
    if generic:
        alts.append(_HYPH_TOKEN)
    if not alts:
        raise ValueError("no surfaces and generic=False: empty entity alternation")
    return "(?:" + "|".join(alts) + ")"


def compile_mention_regex(surfaces: list[str]) -> re.Pattern:
    return re.compile(_B_L + "(" + _entity_alt(surfaces) + ")" + _B_R)


def compile_pattern_regexes(
    patterns: list[tuple[str, str, str]], surfaces: list[str]
) -> list[tuple[str, re.Pattern, bool, str]]:
    """[(pred, active_template, passive_template)] →
    [(pred, regex, swapped, middle_literal)].

    ``swapped=True`` means group 1 is the *object* (passive form).
    ``middle_literal`` is the fixed phrase between the two entity slots —
    used as a vectorized pre-filter before the expensive alternation.
    """
    alt = "(" + _entity_alt(surfaces) + ")"
    out: list[tuple[str, re.Pattern, bool, str]] = []
    for pred, active, passive in patterns:
        for tmpl, first_is_subj in ((active, True), (passive, False)):
            if not tmpl:
                continue
            pre, mid, post = _split_template(tmpl, first_is_subj)
            rx = re.compile(
                _B_L + re.escape(pre) + alt + re.escape(mid) + alt + _B_R + re.escape(post)
            )
            out.append((pred, rx, not first_is_subj, mid))
    return out


def _split_template(tmpl: str, first_is_subj: bool) -> tuple[str, str, str]:
    a, b = ("{s}", "{o}") if first_is_subj else ("{o}", "{s}")
    i = tmpl.index(a)
    j = tmpl.index(b, i + len(a))
    return tmpl[:i], tmpl[i + len(a):j], tmpl[j + len(b):]


# executor-local compiled-regex cache (avoids recompiling per Arrow batch)
_CACHE: dict[int, object] = {}


def _cached(key: int, build):
    if key not in _CACHE:
        _CACHE[key] = build()
    return _CACHE[key]


def detect_mentions(transcripts: DataFrame, gazetteer: pd.DataFrame) -> DataFrame:
    """B2: gazetteer mentions with spans. Output MENTION_SCHEMA.

    ``mention_id`` is deterministic: ``{conv_id}:{turn_idx}:{start}``.
    """
    surfaces = gazetteer["surface"].tolist()
    mtype_of = dict(zip(gazetteer["surface"], gazetteer["mtype"]))
    key = hash(("mentions", tuple(surfaces)))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rx: re.Pattern = _cached(key, lambda: compile_mention_regex(surfaces))
        for pdf in batches:
            if pdf.empty:
                continue
            # ONE finditer pass yields surface + offset together —
            # extractall loses offsets and would force a second full
            # regex pass to recover them (measured 4x slower combined)
            row_list: list[int] = []
            surf_list: list[str] = []
            start_list: list[int] = []
            for i, t in enumerate(pdf["text"].fillna("").to_numpy()):
                for m in rx.finditer(t):
                    row_list.append(i)
                    surf_list.append(m.group(1))
                    start_list.append(m.start(1))
            if not row_list:
                continue
            row_idx = np.asarray(row_list, dtype=np.int64)
            out = pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy()[row_idx],
                    "turn_idx": pdf["turn_idx"].to_numpy()[row_idx],
                    "surface": surf_list,
                    "start": np.asarray(start_list, dtype=np.int64),
                }
            )
            out["end"] = out["start"] + out["surface"].str.len()
            out["mention_id"] = (
                out["conv_id"] + ":" + out["turn_idx"].astype(str) + ":" + out["start"].astype(str)
            )
            out["mtype"] = out["surface"].map(mtype_of).fillna("unknown")
            out["turn_idx"] = out["turn_idx"].astype("int32")
            out["start"] = out["start"].astype("int32")
            out["end"] = out["end"].astype("int32")
            yield out[["conv_id", "turn_idx", "mention_id", "surface", "start", "end", "mtype"]]

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(fn, MENTION_SCHEMA)


def extract_triples(
    transcripts: DataFrame,
    gazetteer: pd.DataFrame,
    patterns: pd.DataFrame,
) -> DataFrame:
    """B3: (subj, pred, obj) surface triples via the rule grammar.

    ``patterns`` columns: pred, active, passive (templates with {s}/{o}).
    Output TRIPLE_SCHEMA; ``extractor`` records which form fired
    (``pattern:<pred>:active|passive``).
    """
    surfaces = gazetteer["surface"].tolist()
    triples_spec = list(zip(patterns["pred"], patterns["active"], patterns["passive"]))
    key = hash(("patterns", tuple(surfaces), tuple(map(tuple, triples_spec))))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        regexes = _cached(key, lambda: compile_pattern_regexes(triples_spec, surfaces))
        for pdf in batches:
            if pdf.empty:
                continue
            # null/NaN text rows must skip silently (the replaced
            # str.contains/extractall path did); fillna keeps the raw
            # `mid in txt` / finditer fast path type-safe
            texts = pdf["text"].fillna("").to_numpy()
            outs = []
            for pred, rx, swapped, mid in regexes:
                # The fixed middle phrase gates the (expensive) entity
                # alternation: a C-level `mid in txt` check inline with a
                # direct finditer loop replaces the earlier
                # str.contains + str.extractall pair — byte-identical
                # output, 1.7x faster (extractall's MultiIndex frame
                # construction and the per-pattern candidate-frame copy
                # were a third of the stage; measured on 313k rows:
                # 3.8s → 2.2s).
                pre_gate = mid.strip() != ""
                rows: list[int] = []
                s1: list[str] = []
                s2: list[str] = []
                for i, txt in enumerate(texts):
                    if pre_gate and mid not in txt:
                        continue
                    for m in rx.finditer(txt):
                        rows.append(i)
                        s1.append(m.group(1))
                        s2.append(m.group(2))
                if not rows:
                    continue
                row_idx = np.asarray(rows, dtype=np.int64)
                g1 = np.asarray(s1, dtype=object)
                g2 = np.asarray(s2, dtype=object)
                subj, obj = (g2, g1) if swapped else (g1, g2)
                outs.append(
                    pd.DataFrame(
                        {
                            "conv_id": pdf["conv_id"].to_numpy()[row_idx],
                            "turn_idx": pdf["turn_idx"].to_numpy()[row_idx].astype("int32"),
                            "subj": subj,
                            "pred": pred,
                            "obj": obj,
                            "extractor": f"pattern:{pred}:{'passive' if swapped else 'active'}",
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(fn, TRIPLE_SCHEMA)


def surface_triples_dedup(triples: DataFrame) -> DataFrame:
    """Distinct (conv_id, turn_idx, subj, pred, obj) — A2's dedupe analogue."""
    return triples.dropDuplicates(["conv_id", "turn_idx", "subj", "pred", "obj"])


def normalize_surface(col):
    """Candidate-gen normalization (B4): casefold + strip punctuation."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^\w\s]", ""))
