"""Seeded ``documents`` and ``embeddings`` tables for the curation recipe.

Same schemas as the testdata tables of that name (TESTDATA.md): documents
``(doc_id long, text string, lang string, source string, n_chars
long)`` and embeddings ``(vec_id long, embedding array<float>, label
int)``. The corpus is built so each PIPELINE.md gate has documents to
drop (a seed may leave one gate without) and none drops everything:

* short and punctuation-heavy documents fail the stage-1 quality gate;
* looping documents trip the stage-2 repetition rules;
* out-of-vocabulary gibberish fails the stage-3 unigram-LM gate (each
  of its tokens occurs once, so its mean log-probability is
  ``-ln(corpus tokens)``, below the gate's -9.5 once the corpus holds
  more than ~13,400 tokens);
* one-token edits of earlier documents are stage-4 near-duplicates;
* long spans copied from another document fail the stage-5 span check;
* spans copied from an evaluation document (``doc_id % 97 == 0``) are
  stage-6 contamination;
* a share of the embeddings are small perturbations of others, the
  near-duplicates SemDeDup (stage 4b) prunes.

Everything derives from the seed: the same seed writes identical rows.
"""

from __future__ import annotations

import os
import random

VOCAB = (
    "the of and to in is that for on with as by at from this be are it an "
    "or was data spark query scan index table row column value key group "
    "filter join hash sort merge batch stream window order part line vector "
    "fast slow big small metric event log time host request latency"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
SOURCES = ("src0", "src1", "src2", "src3", "src4")
BENCH_MOD = 97
DIMS = 32


def _words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(n)]


def _gibberish(rng: random.Random, n: int) -> list[str]:
    letters = "bcdfghjklmnpqrstvwxz"
    return [
        "".join(rng.choice(letters) for _ in range(rng.randint(6, 10)))
        for _ in range(n)
    ]


def documents(seed: int, n_docs: int) -> list[tuple]:
    """Rows ``(doc_id, text, lang, source, n_chars)``."""
    rng = random.Random(seed)
    texts: list[list[str]] = []
    for i in range(n_docs):
        # evaluation documents are always plain text, so they survive
        # to stage 6 and their copied spans are found there
        kind = 1.0 if i % BENCH_MOD == 0 else rng.random()
        earlier = texts[rng.randrange(len(texts))] if texts else None
        if kind < 0.06:
            toks = _words(rng, rng.randint(5, 15))                 # too short
        elif kind < 0.09:
            toks = [w + "!?;" for w in _words(rng, rng.randint(25, 60))]
        elif kind < 0.14:
            toks = _words(rng, 5) * rng.randint(6, 10)             # looping
        elif kind < 0.18:
            toks = _gibberish(rng, rng.randint(25, 50))            # OOV
        elif kind < 0.26 and earlier is not None and len(earlier) >= 30:
            toks = list(earlier)                                   # near-dup
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        elif kind < 0.31 and earlier is not None and len(earlier) >= 30:
            k = len(earlier) * 3 // 4                              # copied span
            start = rng.randrange(len(earlier) - k + 1)
            toks = earlier[start:start + k] + _words(rng, len(earlier) // 5)
        elif kind < 0.38 and i > BENCH_MOD:
            src = texts[BENCH_MOD * rng.randrange(i // BENCH_MOD)]  # eval leak
            toks = _words(rng, rng.randint(15, 30)) + src[:12] + _words(rng, 10)
        else:
            toks = _words(rng, rng.randint(60, 160))
        texts.append(toks)
    rows = []
    for i, toks in enumerate(texts):
        text = " ".join(toks)
        rows.append((i, text, rng.choice(LANGS), rng.choice(SOURCES), len(text)))
    return rows


def embeddings(seed: int, n_vecs: int) -> list[tuple]:
    """Rows ``(vec_id, embedding, label)``: unit-ish random vectors in
    ``DIMS`` dimensions, 10% of them near-copies of an earlier one."""
    rng = random.Random(seed * 31 + 7)
    vecs: list[list[float]] = []
    rows = []
    for i in range(n_vecs):
        if vecs and rng.random() < 0.1:
            base = vecs[rng.randrange(len(vecs))]
            v = [x + rng.gauss(0.0, 0.01) for x in base]
        else:
            v = [rng.gauss(0.0, 1.0) for _ in range(DIMS)]
            norm = sum(x * x for x in v) ** 0.5
            v = [x / norm for x in v]
        vecs.append(v)
        rows.append((i, v, rng.randrange(10)))
    return rows


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``out_dir`` (the layout ``load_table`` and the DuckDB oracles read)
    and return row and byte counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    d = documents(seed, n_docs)
    doc_tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in d], pa.int64()),
            "text": pa.array([r[1] for r in d], pa.string()),
            "lang": pa.array([r[2] for r in d], pa.string()),
            "source": pa.array([r[3] for r in d], pa.string()),
            "n_chars": pa.array([r[4] for r in d], pa.int64()),
        }
    )
    e = embeddings(seed, n_vecs)
    emb_tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in e], pa.int64()),
            "embedding": pa.array([r[1] for r in e], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in e], pa.int32()),
        }
    )
    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "embeddings": os.path.join(out_dir, "embeddings.parquet"),
    }
    pq.write_table(doc_tbl, paths["documents"])
    pq.write_table(emb_tbl, paths["embeddings"])
    return {
        "documents": len(d),
        "embeddings": len(e),
        "bytes": sum(os.path.getsize(p) for p in paths.values()),
    }
