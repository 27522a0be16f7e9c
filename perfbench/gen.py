"""Seeded input generators.

Every generator takes a ``numpy.random.Generator`` built from the
workload seed, so the same seed gives the same inputs. The program
under test only ever receives the generated tables; the numpy copies
kept here feed the reference checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from geokit_spark.constants import CLC_CLASSES, HOT_MOD, TILE_SIZE

# Traffic dimensions, one dict per workload. Each value names its
# source: the engine's own code, one of the repository's fixtures
# (FIXTURES.md, geokit_spark/sources/pages.py, the ``documents`` and
# ``embeddings`` test tables), the run-time budget (README.md,
# "Budget"), or "unverified" where nothing backs the value. README.md
# and the workload ``why`` lines in BENCHMARK.json quote them.
GEO_RASTER = {
    "n_pages": 1_000_000,  # budget
    # the engine's geocoder puts doc_id % HOT_MOD == 0 in the 0.02 deg
    # urban patch; a contiguous id range keeps that share exact
    "hot_share": 1.0 / HOT_MOD,
    # the engine's full georeferenced grid: 8 x 8 tiles of 64 x 64 px
    "raster_tiles": 8,
    # the clc land-cover fixture (FIXTURES.md section 6,
    # kernels.raster_fields.clc_value): 8 x 8-px blocks of classes
    # 1..44; here each block's class is drawn from the seed
    "cover_block": 8,
    "n_classes": CLC_CLASSES,
    "speck_density": 0.08,  # unverified: share of pixels re-drawn as 1-px specks
    "sieve_min_size": 4,
    "knn_k": 5,
    "scale_down_k": 4,
}
CRAWL_TEXT = {
    "n_docs": 6_000,  # budget
    # pages_multicrawl: the second crawl revisits doc_id % 2 == 0;
    # here the revisit keeps the text byte-identical
    "revisit_share": 0.5,
    # pages_mirrored: doc_id % 3 == 0 also appears on a mirror host;
    # here the mirror carries a one-letter edit, so it is a near
    # duplicate for simhash_near_pairs
    "mirror_share": 1.0 / 3.0,
    # the documents table: 10-100 words per text, about uniform
    # (quartiles 32 / 54 / 76 words), 20 sources, and this language mix
    "words_min": 10,
    "words_max": 100,
    "n_sources": 20,
    "langs": {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14},
    "vocab": 4000,  # unverified; the documents table draws from 31 words
    # pages_with_links: out-degree 1 + doc_id % 4, targets spread
    # about evenly by a modular map; here drawn from the seed
    "pr_nodes": 20_000,  # budget
    "pr_degree_max": 4,
    "pr_iters": 3,
    "n_dirty": 64,
}
EMBED_ANN = {
    "n_vectors": 30_000,  # budget
    "dim": 64,  # the embeddings table
    # unverified: the embeddings table has 10 labels whose centres are
    # weak against the noise (centre norm about 0.1, noise norm about
    # 1), which leaves no true near neighbours for recall to test
    "cluster_size": 40,
    "noise": 0.1,
    "k": 5,
    "n_queries": 200,
}


def rng_for(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, workload))])


# ---------------------------------------------------------------- geo_raster


def page_id_offset(rng: np.random.Generator, n: int) -> int:
    """Start of the contiguous doc_id range. A multiple of HOT_MOD, and
    small enough that every id stays in the geocoder's exact range."""
    return int(rng.integers(0, (2**31 - n) // HOT_MOD)) * HOT_MOD


def land_cover(rng: np.random.Generator, p: dict) -> np.ndarray:
    """Categorical raster: square cover patches of random class with
    single-pixel specks sprinkled at ``speck_density``."""
    side = p["raster_tiles"] * TILE_SIZE
    nb = side // p["cover_block"]
    coarse = rng.integers(1, p["n_classes"] + 1, size=(nb, nb))
    m = np.kron(coarse, np.ones((p["cover_block"],) * 2, dtype=np.int64))
    speck = rng.random((side, side)) < p["speck_density"]
    m[speck] = rng.integers(1, p["n_classes"] + 1, size=int(speck.sum()))
    return m.astype(np.float64)


def tiles_pdf(m: np.ndarray) -> pd.DataFrame:
    """Tile-table rows (tile_x, tile_y, data, nodata) of a pixel matrix,
    y-at-top, in the layout of geokit_spark.sources.tiles."""
    t = TILE_SIZE
    n = m.shape[0] // t
    rows = [
        (tx, ty, m[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t].ravel(), -9999.0)
        for ty in range(n)
        for tx in range(n)
    ]
    return pd.DataFrame(rows, columns=["tile_x", "tile_y", "data", "nodata"])


# ---------------------------------------------------------------- crawl_text

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(3, 9, size=n)
    words = {"".join(rng.choice(_LETTERS, size=k)) for k in lens}
    words -= {"a", "the"}
    return sorted(words)


def crawl_docs(rng: np.random.Generator, p: dict) -> pd.DataFrame:
    """(doc_id, text, lang, source) crawl rows: base pages, their exact
    revisit copies and their near-duplicate mirrors. Every text starts
    with a stopword and is made of 3-8-letter words, so the quality
    gate keeps exactly the texts of at least its minimum word count."""
    n = p["n_docs"]
    vocab = np.array(vocabulary(rng, p["vocab"]))
    n_words = rng.integers(p["words_min"], p["words_max"] + 1, size=n)
    texts = [
        "the " + " ".join(rng.choice(vocab, size=int(k) - 1)) for k in n_words
    ]
    names = np.array(list(p["langs"]))
    langs = rng.choice(names, size=n, p=np.array(list(p["langs"].values())))
    base_ids = np.arange(n, dtype=np.int64) * 4 + 1  # never % 4 == 0
    source = np.array([f"src{i % p['n_sources']}" for i in range(n)])

    rev = rng.random(n) < p["revisit_share"]
    mir = rng.random(n) < p["mirror_share"]
    mir_texts = []
    for i in np.flatnonzero(mir):
        t = texts[i]
        # replace one letter of one non-stopword word (position >= 4)
        pos = int(rng.integers(4, len(t)))
        while t[pos] == " ":
            pos -= 1
        c = t[pos]
        new = _LETTERS[(np.flatnonzero(_LETTERS == c)[0] + 1) % 26]
        mir_texts.append(t[:pos] + new + t[pos + 1:])
    base = pd.DataFrame({"doc_id": base_ids, "text": texts, "lang": langs, "source": source})
    revisits = base[rev].assign(doc_id=base_ids[rev] + 2)
    mirrors = base[mir].assign(doc_id=base_ids[mir] + 3, text=mir_texts)
    out = pd.concat([base, revisits, mirrors], ignore_index=True)
    return out.sample(frac=1.0, random_state=rng).reset_index(drop=True)


DIRTY_HTML = (
    b"<html><body><p>caf\xe9 ok</p></body></html>",  # Latin-1 byte
    b"<html><body><p>trunc <b",  # truncated tag
    b"<html><body><p>nul\x00byte here</p></body></html>",
    b"<html><body>stray <p> no close <p>second",
    b"<p>\xff\xfe\xfd</p>",  # invalid UTF-8 only
    b"<html><body><p>fine page text</p></body></html>",
)


# crawl texts that survive as strings but carry markup debris
DIRTY_TEXTS = (
    "the nul\x00 byte " + "word " * 20,
    "the stray <p> paragraph " + "word " * 20,
    "the truncated <b tag " + "word " * 20,
    "the caf\u00e9 " + "word " * 20,
)


def dirty_pages(p: dict) -> pd.DataFrame:
    """Malformed page rows (url, html). The mix is fixed, not seeded: it
    is a robustness probe, not traffic."""
    n = p["n_dirty"]
    return pd.DataFrame({
        "url": [f"https://dirty.example/p/{i}" for i in range(n)],
        "html": [DIRTY_HTML[i % len(DIRTY_HTML)] for i in range(n)],
    })


def web_edges(rng: np.random.Generator, p: dict) -> tuple[np.ndarray, np.ndarray]:
    """Out-degree 1..pr_degree_max per node, targets drawn evenly over
    all nodes."""
    n = p["pr_nodes"]
    deg = rng.integers(1, p["pr_degree_max"] + 1, size=n)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    dst = rng.integers(0, n, size=src.size, dtype=np.int64)
    return src, dst


# ---------------------------------------------------------------- embed_ann


def embeddings(rng: np.random.Generator, p: dict) -> np.ndarray:
    """Clustered vectors: cluster centres plus Gaussian noise, so each
    vector has true near neighbours for recall to mean something."""
    n, dim = p["n_vectors"], p["dim"]
    centres = rng.standard_normal((n // p["cluster_size"], dim))
    which = rng.integers(0, centres.shape[0], size=n)
    x = centres[which] + p["noise"] * rng.standard_normal((n, dim))
    return x.astype(np.float32)
