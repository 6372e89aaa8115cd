"""Seeded benchmark inputs: the page corpus and the two query logs.

The benchmark owns its generators so that every input is a function
of ``--seed`` (the engine's own ``sources.pages`` pins its seed as a
module constant). The engine only ever sees the generated parquet and
the query strings.

Corpus shape follows ``irkit_spark/sources/pages.py``: HTML pages with
~120 tokens each (log-normal lengths) drawn from a 5k-term Zipf
vocabulary (s = 1.2), plus the same sprinkling of parse-failure,
empty-body and duplicate-token pages. Generated corpora are cached on
disk keyed by (generator version, seed, size); the index built from
them never is.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

GEN_VERSION = 1
VOCAB_SIZE = 5000
ZIPF_S = 1.2
MEAN_LOG_LEN = 4.6075   # exp(mu + sigma^2 / 2) ~ 120 tokens
SIGMA_LOG_LEN = 0.6
N_FILES = 8             # parquet files per corpus: one scan task each
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.5, 0.125, 0.125, 0.125, 0.125])

VOCAB = np.array([f"term{i:05d}" for i in range(VOCAB_SIZE)], dtype=object)
_ZIPF_P = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
_ZIPF_P /= _ZIPF_P.sum()

_HTML = ("<html><head><title>{title}</title>"
         "<script>skip(); var x = 1 < 2;</script>"
         "<style>body {{ color: red; }}</style></head>"
         "<body><!-- hidden comment --><p>{p1}</p>"
         "<p>{p2} &amp; tail&nbsp;end</p></body></html>")


def _page(rng: np.random.Generator, i: int, length: int, site: int,
          salt: str) -> bytes:
    if i % 101 == 53:                 # parse failure: invalid utf-8
        return b"\xff\xfe<html>broken"
    if i % 97 == 13:                  # empty body
        return _HTML.format(title="", p1="", p2="").encode()
    if i % 89 == 7:                   # one token repeated
        body = " ".join([VOCAB[1 + (i % 5)]] * 30)
        return _HTML.format(title=f"dup page {i:06d}", p1=body,
                            p2="").encode()
    toks = VOCAB[rng.choice(VOCAB_SIZE, size=length, p=_ZIPF_P)]
    half = length // 2
    return _HTML.format(title=f"page {i:06d} site{site:04d} {salt}",
                        p1=" ".join(toks[:half]),
                        p2=" ".join(toks[half:])).encode()


def page_url(seed: int, i: int) -> str:
    return f"https://site{i % 200:04d}.example/s{seed}/p/{i:06d}"


def pages(seed: int, n_docs: int, start: int = 0,
          salt: str = "") -> pd.DataFrame:
    """Docs [start, start + n_docs) of the seed's corpus as a pandas
    frame (url, warc_ts, html, lang). ``salt`` changes the content of
    the same urls (the upsert batch)."""
    rng = np.random.default_rng([seed, start, len(salt)])
    idx = np.arange(start, start + n_docs)
    lens = np.maximum(1, rng.lognormal(MEAN_LOG_LEN, SIGMA_LOG_LEN,
                                       size=n_docs).astype(np.int64))
    html = [_page(rng, int(i), int(n), int(i % 200), salt)
            for i, n in zip(idx, lens)]
    return pd.DataFrame({
        "url": pd.Series([page_url(seed, int(i)) for i in idx],
                         dtype="object"),
        "warc_ts": pd.Series(np.datetime64("2024-01-01T00:00:00")
                             + idx * np.timedelta64(17, "s"),
                             dtype="datetime64[us]"),
        "html": pd.Series(html, dtype="object"),
        "lang": pd.Series(rng.choice(LANGS, size=n_docs, p=LANG_P),
                          dtype="object"),
    })


def corpus_dir(cache_root: str, seed: int, n_docs: int) -> str:
    """Directory of N_FILES parquet files holding the seed's corpus,
    generated on first use and cached under ``cache_root``."""
    d = os.path.join(cache_root,
                     f"corpus-v{GEN_VERSION}-s{seed}-n{n_docs}")
    if os.path.isdir(d):
        return d
    import pyarrow as pa
    import pyarrow.parquet as pq
    tmp = f"{d}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    bounds = np.linspace(0, n_docs, N_FILES + 1).astype(int)
    for f, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(pa.Table.from_pandas(pages(seed, b - a, start=a),
                                            preserve_index=False),
                       os.path.join(tmp, f"part-{f:05d}.parquet"))
    try:
        os.replace(tmp, d)
    except OSError:                   # another run cached it first
        import shutil
        shutil.rmtree(tmp, ignore_errors=True)
    return d


def _zipf_ranks(rng: np.random.Generator, lo: int, hi: int, n: int,
                s: float = 1.0) -> np.ndarray:
    """n ranks in [lo, hi) with Zipf(s) popularity inside the range,
    stratified: one draw per 1/n slice of the distribution, in seeded
    order. Seeds change which query gets which term, not how often
    each popularity level occurs."""
    p = np.arange(1, hi - lo + 1, dtype=np.float64) ** -s
    cdf = np.cumsum(p / p.sum())
    u = (np.arange(n) + rng.random(n)) / n
    ranks = lo + np.minimum(np.searchsorted(cdf, u), hi - lo - 1)
    return rng.permutation(ranks)


# query classes as in irkit_spark/sources/queries.py: head-heavy, mid,
# tail-only, and OOV mixed in (every 5th OOV query is all-OOV)
_CLASSES = {"head": (0.35, 0, 20), "mid": (0.40, 20, 1000),
            "tail": (0.12, 3000, VOCAB_SIZE), "oov": (0.13, 0, 1000)}


def _exact(rng: np.random.Generator, n: int, values, shares,
           block: int) -> list:
    """n draws with the given shares held exactly (largest-remainder
    rounding) in every block of ``block`` draws, in seeded order:
    seeds change which query gets what, not the mix."""
    out = []
    for b in range(0, n, block):
        m = min(block, n - b)
        want = np.asarray(shares) * m
        counts = np.floor(want).astype(int)
        short = m - counts.sum()
        counts[np.argsort(counts - want, kind="stable")[:short]] += 1
        out += list(rng.permutation(np.repeat(
            np.array(values, dtype=object), counts)))
    return out


def _queries(rng: np.random.Generator, n: int, prefix: str,
             ks=(10, 100, 1000), block: int | None = None) -> list[dict]:
    block = block or n
    classes = _exact(rng, n, list(_CLASSES),
                     [c[0] for c in _CLASSES.values()], block)
    n_terms = _exact(rng, n, [1, 2, 3, 4], [.25] * 4, block)
    k = _exact(rng, n, list(ks), [1 / len(ks)] * len(ks), block)
    mode = _exact(rng, n, ["wand", "maxscore", "daat"], [.7, .15, .15],
                  block)
    ranks = {}
    for cls, (_, lo, hi) in _CLASSES.items():
        need = sum(int(t) for c, t in zip(classes, n_terms) if c == cls)
        ranks[cls] = list(_zipf_ranks(rng, lo, hi, need))
    out, n_oov = [], 0
    for qid in range(n):
        cls, nt = classes[qid], int(n_terms[qid])
        terms = [VOCAB[ranks[cls].pop()] for _ in range(nt)]
        if cls == "oov":
            terms = terms[:max(1, nt - 1)] + [f"zzoov{qid % 7}"]
            if n_oov % 5 == 0:
                terms = [f"zzoov{qid % 7}", "qqvooz"]
            n_oov += 1
        out.append({"qid": f"{prefix}{qid}", "cls": cls,
                    "text": " ".join(terms), "k": int(k[qid]),
                    "mode": str(mode[qid])})
    return out


def serve_log(seed: int, n: int, block: int) -> list[dict]:
    """The serve log: Zipf term popularity inside each class, so terms
    repeat across queries; 1-4 terms; k in {10, 100, 1000}; 70% wand,
    15% maxscore, 15% daat; the class, length, k and mode mix held in
    every ``block`` queries (one serve cycle)."""
    return _queries(np.random.default_rng([seed, 1]), n, "s",
                    block=block)


def trec_log(seed: int, n: int, block: int) -> list[dict]:
    """The TREC-style log: the same classes at k = 100, each query's
    terms deduplicated and sorted, the mix held in every ``block``
    queries. Runs in batches and one by one on the distributed path
    (trec sets the mode per call)."""
    out = _queries(np.random.default_rng([seed, 2]), n, "t", ks=(100,),
                   block=block)
    for q in out:
        q["text"] = " ".join(sorted(set(q["text"].split())))
    return out


def delete_ids(seed: int, n_docs: int, rounds: int,
               per_round: int = 100) -> list[list[int]]:
    """Disjoint seeded doc-id sets, one per delete round."""
    rng = np.random.default_rng([seed, 3])
    ids = rng.permutation(n_docs)[:rounds * per_round]
    return [sorted(int(x) for x in ids[r * per_round:(r + 1) * per_round])
            for r in range(rounds)]
