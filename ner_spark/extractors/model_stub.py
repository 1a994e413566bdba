"""Model-based taggers ("spaCy"/"stanza" analogues) for the fused extractor.

The reference wraps spaCy ``fr_core_news_sm`` (reference:
src/utils/spacy_config.py:136-167, driver-side iterrows) and Stanza
(reference: src/utils/stanza_config.py:101-166, one giant concat string and a
linear offset re-attribution scan). Here each model scans whole Arrow
batches inside ``combined.combined_mentions``: when the driver probe finds
the model, each batch goes through one ``nlp.pipe``/``bulk_process`` call on
a model loaded lazily once per Python worker.

Without the model (an import-try fails) the batch falls back to a
*deterministic stub*: it finds the same gazetteer surface forms a model
would recognize but — keyed by a stable md5 of (doc_uid, span, salt) —
skips one in ``SKIP_MOD`` of them and relabels one in ``FLIP_MOD``. That
is exactly the phenomenon mix (1/2/3-way agreement, conflicting labels)
the consensus and priority-vote stages exist to resolve, and it is
reproducible bit-for-bit at any parallelism, which the correctness oracle
and the scaling bench both need.
"""

from __future__ import annotations

import hashlib

_ROTATE = {"PER": "LOC", "LOC": "ORG", "ORG": "PER"}

#: the stub skips a gazetteer hit when its skip hash is 0 mod SKIP_MOD, and
#: rotates its label when its flip hash is 0 mod FLIP_MOD
SKIP_MOD = 4
FLIP_MOD = 20


def _crc(*parts) -> int:
    """Stable well-mixed 60-bit hash of the key parts.

    NOT crc32: CRC is affine, so two keys differing only in a same-length
    trailing salt ("skip" vs "flip") produce values at a constant XOR — the
    two decisions would be perfectly correlated across every mention.

    md5 (first 15 hex digits) rather than blake2b because DuckDB computes
    the bit-identical value — ``('0x' || substr(md5(x), 1, 15))::BIGINT``,
    the same cross-engine trick as operators.dedup.md5_60 — which lets the
    driver oracle replay every skip/flip decision in pure SQL
    (queries_flagship.py) and check the full flagship pipeline by hash.
    """
    key = ":".join(str(p) for p in parts)
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


_SPACY_MODEL = "fr_core_news_sm"
_NLP_CACHE: dict[str, object] = {}  # per-Python-worker lazy model singleton
_PROBE: dict[str, bool] = {}  # driver-side availability probe (once)


def _load_nlp(model: str = _SPACY_MODEL):
    """Load the spaCy model once per Python worker; None if unavailable."""
    if model not in _NLP_CACHE:
        try:  # pragma: no cover - model not present in this container
            import spacy

            _NLP_CACHE[model] = spacy.load(model, disable=("parser", "lemmatizer"))
        except Exception:
            _NLP_CACHE[model] = None
    return _NLP_CACHE[model]


def _have_spacy(model: str = _SPACY_MODEL) -> bool:
    """Driver-side probe: True iff spaCy AND the model load here.

    (Round 1 returned False unconditionally — dead code; now installing
    ``fr_core_news_sm`` activates the real ``nlp.pipe`` branch below on
    every entry point.)
    """
    if model not in _PROBE:
        _PROBE[model] = _load_nlp(model) is not None
    return _PROBE[model]


def _spacy_scan_batch(doc_uids, texts, nlp):
    """Real-model path: one ``nlp.pipe`` pass over the Arrow batch
    (reference: spacy_config.py:136-167 iterrows + per-row nlp(); pipe()
    over the batch is the vectorized equivalent). Emits raw ``ent.label_``
    exactly like the reference."""
    out = []
    docs = nlp.pipe([t or "" for t in texts], batch_size=64)
    for doc in docs:
        out.append(
            [
                {
                    "NE": e.text,
                    "label": e.label_,
                    "start": e.start_char,
                    "end": e.end_char,
                    "grfs": None,
                }
                for e in doc.ents
            ]
        )
    return out


_STANZA_LANG = "fr"


def _load_stanza(lang: str = _STANZA_LANG):
    """Load the Stanza pipeline once per Python worker; None if unavailable."""
    key = f"stanza:{lang}"
    if key not in _NLP_CACHE:
        try:  # pragma: no cover - model not present in this container
            import stanza

            _NLP_CACHE[key] = stanza.Pipeline(
                lang=lang,
                processors="tokenize,ner",
                download_method=None,  # never reach the network from a worker
                verbose=False,
            )
        except Exception:
            _NLP_CACHE[key] = None
    return _NLP_CACHE[key]


def _have_stanza(lang: str = _STANZA_LANG) -> bool:
    """Driver-side probe: True iff stanza AND its models load here."""
    key = f"stanza:{lang}"
    if key not in _PROBE:
        _PROBE[key] = _load_stanza(lang) is not None
    return _PROBE[key]


def _stanza_scan_batch(doc_uids, texts, nlp):
    """Real-Stanza path: the whole Arrow batch goes through ONE bulk_process
    call (list-of-Document batching). The reference instead concatenates the
    batch into one giant string and walks a cursor to re-attribute entity
    offsets to rows (reference: stanza_config.py:101-166); per-document
    processing makes ``ent.start_char`` already row-relative, so the whole
    offset re-attribution scan disappears."""
    import stanza

    docs = nlp.bulk_process([stanza.Document([], text=t or "") for t in texts])
    return [
        [
            {
                "NE": e.text,
                "label": e.type,
                "start": e.start_char,
                "end": e.end_char,
                "grfs": None,
            }
            for e in doc.ents
        ]
        for doc in docs
    ]


def _stub_scan(doc_uid: str, text: str, gaz_re, by_surface, salt: str):
    out = []
    for m in gaz_re.finditer(text):
        ne = m.group(0)
        s, e = m.start(), m.end()
        if _crc(doc_uid, s, e, salt, "skip") % SKIP_MOD == 0:
            continue
        label = by_surface[ne]
        if _crc(doc_uid, s, e, salt, "flip") % FLIP_MOD == 0:
            label = _ROTATE[label]
        out.append({"NE": ne, "label": label, "start": s, "end": e, "grfs": None})
    return out


#: model source -> (driver probe, per-worker loader, real batch scan)
MODELS = {
    "spaCy": (_have_spacy, _load_nlp, _spacy_scan_batch),
    "stanza": (_have_stanza, _load_stanza, _stanza_scan_batch),
}
