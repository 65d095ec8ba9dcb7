"""Seeded input generator for the benchmark.

Resamples the shape of the sf0.1 `documents` table: the same 30-word
vocabulary, word counts uniform on 10..99, the same `lang` shares and
uniform `source` over src0..src19. The constants below were read once
from that table, so generation needs nothing outside the benchmark.

On top of the resample it plants a stated share of exact duplicates
(same text as an earlier document) and near duplicates (an earlier
document with one word replaced and the table's " dup" marker
appended), so that dedup operators and the LLM response cache have
shared work to find. `embeddings` are unit-norm Gaussian vectors with
uniform labels, again with a planted share of near-duplicate vectors.

The same seed gives byte-identical rows; `digest` proves it.
"""
import hashlib
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 99
EMBED_DIM = 64
N_LABELS = 10

EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
EMBED_NEAR_DUP_SHARE = 0.05

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _lang(rng):
    x = rng.random()
    for lang, share in LANGS:
        x -= share
        if x < 0:
            return lang
    return LANGS[-1][0]


def documents(seed, n):
    """Rows (doc_id, text, lang, source, n_chars); doc i copies only docs < i."""
    rng = random.Random(f"docs:{seed}")
    texts = []
    rows = []
    for i in range(n):
        x = rng.random()
        if i > 0 and x < EXACT_DUP_SHARE:
            text = texts[rng.randrange(i)]
        elif i > 0 and x < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words) + " dup"
        else:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(MIN_WORDS, MAX_WORDS)))
        texts.append(text)
        rows.append((i, text, _lang(rng), f"src{rng.randrange(N_SOURCES)}", len(text)))
    return rows


def _unit(v):
    norm = math.sqrt(sum(x * x for x in v))
    return [x / norm for x in v]


def embeddings(seed, n):
    """Rows (vec_id, embedding, label); values rounded through float32."""
    rng = random.Random(f"emb:{seed}")
    vecs = []
    rows = []
    for i in range(n):
        if i > 0 and rng.random() < EMBED_NEAR_DUP_SHARE:
            base = vecs[rng.randrange(i)]
            v = _unit([x + rng.gauss(0.0, 0.01) for x in base])
        else:
            v = _unit([rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)])
        v = pa.array(v, pa.float32()).to_pylist()
        vecs.append(v)
        rows.append((i, v, rng.randrange(N_LABELS)))
    return rows


def digest(tables):
    """sha256 over a canonical JSON rendering of every row of every table."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for row in tables[name]:
            h.update(json.dumps(row, separators=(",", ":")).encode())
            h.update(b"\n")
    return h.hexdigest()


def _write(path, schema, rows):
    cols = list(zip(*rows))
    table = pa.Table.from_arrays([pa.array(list(c), f.type) for c, f in zip(cols, schema)],
                                 schema=schema)
    pq.write_table(table, path)


def generate(seed, n_docs, n_vecs, out_dir):
    """Write documents.parquet (and embeddings.parquet when n_vecs > 0) to
    out_dir; return the stamp {tables: {name: rows}, digest}."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"documents": documents(seed, n_docs)}
    if n_vecs > 0:
        tables["embeddings"] = embeddings(seed, n_vecs)
    _write(os.path.join(out_dir, "documents.parquet"), DOC_SCHEMA, tables["documents"])
    if n_vecs > 0:
        _write(os.path.join(out_dir, "embeddings.parquet"), EMB_SCHEMA, tables["embeddings"])
    return {"tables": {k: len(v) for k, v in tables.items()}, "digest": digest(tables)}
