"""Seeded input generator owned by the benchmark.

Tables are drawn with NumPy from ``numpy.random.default_rng((seed, k))``,
one stream ``k`` per property, and written with pyarrow as parquet: the
same seed gives byte-identical inputs, generation costs well under a second
at benchmark sizes, and the package under test is never involved.

Each injected fault is a boolean *flag* array drawn next to the data.
:func:`write_docs` and :func:`write_texts` write the data and fold the
flags into a sidecar of expected counts — the numbers the output checks
compare the engine against, taken from the injection itself and never from
the engine.

Fault placement keeps every expectation exact.  A doc has at least four
spans, and the span-level faults sit at four distinct indices ``j_k`` (bad
kind), ``j_o`` (negative offset), ``j_d`` (dangling media ref) and ``j_c``
(text span that also carries a media ref).  ``doc_id`` faults take
precedence NULL > empty > hot duplicate, so each doc breaks each rule at
most once.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_COLUMNS = ("doc_id", "spans", "lang", "source")
LANGS = ("en", "de", "fr", "es")
N_HOT_KEYS = 3
SPAN_TYPE = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)


@dataclass(frozen=True)
class DocProfile:
    """Fault densities (per mille) and shape of one documents table.  Only
    ``dirty`` per mille of the docs can carry faults, and the fault rates
    apply within them, so a low ``dirty`` with high rates gives failing
    docs with several violations each."""

    n_docs: int
    dirty: int = 1000
    max_spans: int = 24
    n_media: int = 5_000
    null_id: int = 5
    empty_id: int = 3
    dup_id: int = 5
    empty_spans: int = 3
    bad_kind: int = 8
    neg_offset: int = 8
    dangling: int = 10
    inconsistent: int = 10
    #: ``lang`` outside :data:`LANGS`, ``source`` with neither scheme
    bad_lang: int = 0
    bad_scheme: int = 0


@dataclass(frozen=True)
class TextProfile:
    """Shape of one near-duplicate text table."""

    n_docs: int
    min_tokens: int = 60
    max_tokens: int = 100
    vocab: int = 20_000
    #: every ``twin_every``-th doc gets a twin with one token changed
    twin_every: int = 20
    #: docs sharing one boilerplate template (must exceed ``max_bucket``)
    n_boiler: int = 160


class _Draw:
    """Independent, seed-determined random streams, one per property."""

    def __init__(self, seed: int, n: int) -> None:
        self.seed, self.n = seed, n

    def rng(self, k: int):
        return np.random.default_rng((self.seed, k))

    def per_mille(self, k: int, rate: int):
        return self.rng(k).integers(0, 1000, self.n) < rate

    def ints(self, k: int, lo: int, hi):
        return self.rng(k).integers(lo, hi, self.n)


def _write_parts(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for f in range(files):
        part = table.slice(bounds[f], bounds[f + 1] - bounds[f])
        pq.write_table(part, os.path.join(path, "part-%05d.parquet" % f))


def _docs(p: DocProfile, seed: int):
    n = p.n_docs
    d = _Draw(seed, n)
    ids = np.arange(n)

    f_dirty = d.per_mille(18, p.dirty)
    f_null = f_dirty & d.per_mille(1, p.null_id)
    f_empty = f_dirty & ~f_null & d.per_mille(2, p.empty_id)
    f_dup = f_dirty & ~f_null & ~f_empty & d.per_mille(3, p.dup_id)
    hot = d.ints(4, 0, N_HOT_KEYS)
    doc_id = [
        None if f_null[i]
        else "" if f_empty[i]
        else "doc-%d" % (p.n_docs + hot[i]) if f_dup[i]
        else "doc-%d" % i
        for i in range(n)
    ]

    f_nospans = f_dirty & d.per_mille(5, p.empty_spans)
    n_spans = np.where(f_nospans, 0, d.ints(6, 4, p.max_spans + 1))
    j_k = d.ints(7, 0, 1 << 30) % np.maximum(n_spans, 1)
    j_o = (j_k + 1) % np.maximum(n_spans, 1)
    j_d = (j_k + 2) % np.maximum(n_spans, 1)
    j_c = (j_k + 3) % np.maximum(n_spans, 1)
    f_kind = f_dirty & ~f_nospans & d.per_mille(8, p.bad_kind)
    f_off = f_dirty & ~f_nospans & d.per_mille(9, p.neg_offset)
    f_dang = f_dirty & ~f_nospans & d.per_mille(10, p.dangling)
    f_cons = f_dirty & ~f_nospans & d.per_mille(11, p.inconsistent)

    # one row per span, flattened in doc order
    doc = np.repeat(ids, n_spans)
    start = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    j = np.arange(doc.size) - np.repeat(start, n_spans)
    s = np.random.default_rng((seed, 12))
    bad_kind = f_kind[doc] & (j == j_k[doc])
    dang = f_dang[doc] & (j == j_d[doc])
    cons = f_cons[doc] & (j == j_c[doc])
    is_text = (s.integers(0, 2, doc.size) == 0) & ~dang & ~bad_kind | cons
    ref_ix = s.integers(0, p.n_media, doc.size) + np.where(dang, p.n_media, 0)
    tok = s.integers(0, 4_000, (doc.size, 3))
    kind = np.where(bad_kind, "video", np.where(is_text, "text", "media"))
    text = ["w%d w%d w%d" % tuple(t) if it else None for t, it in zip(tok.tolist(), is_text)]
    media_ref = ["m-%d" % r if (not it or c) else None for r, it, c in zip(ref_ix.tolist(), is_text, cons)]
    offset = np.where(f_off[doc] & (j == j_o[doc]), -1, j * 7).astype(np.int32)
    spans = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(n_spans)]), pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(kind.tolist(), pa.string()), pa.array(text, pa.string()),
             pa.array(media_ref, pa.string()), pa.array(offset, pa.int32())],
            fields=list(SPAN_TYPE),
        ),
    )
    f_lang = f_dirty & d.per_mille(16, p.bad_lang)
    f_scheme = f_dirty & d.per_mille(17, p.bad_scheme)
    lang = np.where(f_lang, "xx", np.array(LANGS)[d.ints(13, 0, len(LANGS))])
    scheme = np.where(f_scheme, "ftp://", np.where(d.ints(14, 0, 2) == 0, "https://", "s3://"))
    source = [scheme[i] + "feed/%d" % i for i in range(n)]
    table = pa.table(
        {
            "doc_id": pa.array(doc_id, pa.string()),
            "spans": spans,
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array(source, pa.string()),
        }
    )
    flags = {
        "null": f_null, "empty": f_empty, "dup": f_dup, "hot": hot,
        "nospans": f_nospans, "kind": f_kind, "off": f_off, "inversion": f_off & (j_o >= 1),
        "dang": f_dang, "cons": f_cons, "lang": f_lang, "scheme": f_scheme,
    }
    return table, flags


def write_docs(p: DocProfile, seed: int, path: str, files: int) -> dict:
    """Write the documents table as *files* parquet files under *path* and
    return the expected counts (also written to ``<path>.expected.json``)."""
    table, f = _docs(p, seed)
    _write_parts(table, path, files)
    # violations per rule of evalidate_spark.operators.spans.span_rules(),
    # and of the wider audit rule set (workloads.audit_rules())
    per_rule = {
        "rule:doc_id": f["null"] | f["empty"],
        "rule:spans": f["nospans"],
        "rule:kind": f["kind"],
        "rule:offset": f["off"],
    }
    audit = {**per_rule, "rule:lang": f["lang"], "rule_or": f["scheme"]}
    dups = {"doc-%d" % (p.n_docs + k): int((f["dup"] & (f["hot"] == k)).sum()) for k in range(N_HOT_KEYS)}
    dups[""] = int(f["empty"].sum())
    exp = {
        "docs": p.n_docs,
        "failed": int(np.logical_or.reduce(list(per_rule.values())).sum()),
        "violations": {k: int(v.sum()) for k, v in per_rule.items()},
        "audit_failed": int(np.logical_or.reduce(list(audit.values())).sum()),
        "audit_violations": {k: int(v.sum()) for k, v in audit.items()},
        "structure": {
            "span:kind_allowed": int(f["kind"].sum()),
            "span:kind_consistency": int(f["kind"].sum() + f["cons"].sum()),
            "span:offset_monotonic": int(f["inversion"].sum()),
        },
        "dangling_refs": int(f["dang"].sum()),
        # keys the table holds more than once, with their row counts
        "duplicate_keys": {k: v for k, v in dups.items() if v > 1},
        "profile": asdict(p),
        "seed": seed,
    }
    with open(path + ".expected.json", "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
    return exp


def media_catalog(spark, p: DocProfile, seed: int):
    """The media catalog every non-dangling ref resolves into."""
    kinds = np.array(["image", "audio", "video"])[_Draw(seed, p.n_media).ints(15, 0, 3)]
    return spark.createDataFrame(
        [("m-%d" % i, str(k)) for i, k in enumerate(kinds)], "media_ref string, media_kind string"
    )


def write_texts(p: TextProfile, seed: int, path: str, files: int) -> dict:
    """Near-duplicate text table ``(doc_id bigint, text string)``.

    Base docs ``0..n-1`` draw tokens from a vocabulary of ``vocab`` words.
    Doc ``n+i`` is a twin of every ``twin_every``-th base doc with one token
    replaced; docs ``2n..2n+n_boiler-1`` share one template.
    """
    n = p.n_docs
    d = _Draw(seed, n)
    length = d.ints(20, p.min_tokens, p.max_tokens + 1)
    pos = d.ints(21, 0, 1 << 30) % length
    toks = np.random.default_rng((seed, 22)).integers(0, p.vocab, (n, p.max_tokens))
    ids, texts = [], []
    for i in range(n):
        words = ["w%d" % t for t in toks[i, : length[i]]]
        ids.append(i)
        texts.append(" ".join(words))
        if i % p.twin_every == 0:
            words[pos[i]] = "z%d" % i
            ids.append(n + i)
            texts.append(" ".join(words))
    template = " ".join("w%d" % t for t in np.random.default_rng((seed, 23)).integers(0, p.vocab, p.min_tokens))
    ids += list(range(2 * n, 2 * n + p.n_boiler))
    texts += [template] * p.n_boiler
    order = np.random.default_rng((seed, 24)).permutation(len(ids))
    table = pa.table(
        {"doc_id": pa.array(np.array(ids)[order], pa.int64()), "text": pa.array([texts[k] for k in order])}
    )
    _write_parts(table, path, files)
    exp = {
        "docs": len(ids),
        "planted_pairs": [[j, j + n] for j in range(0, n, p.twin_every)],
        "boiler_ids": [2 * n, 2 * n + p.n_boiler - 1],
        "profile": asdict(p),
        "seed": seed,
    }
    with open(path + ".expected.json", "w") as fh:
        json.dump(exp, fh)
    return exp


def parquet_files(path: str) -> list:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
