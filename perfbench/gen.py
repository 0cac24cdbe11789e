"""Seeded input generator for the three benchmark workloads.

Runs before the measured JVM starts, so the JVM's first pass is cold.
Each workload's inputs are a pure function of (workload, seed, size):
the same seed writes byte-identical files. Besides the input files it
writes `manifest.json` (input rows and bytes, planted counts) and, for
`refresh`, `truth.tsv` (the planted duplicate and PII label of every
document) that the harness's correctness gates read.

    python3 perfbench/gen.py --workload refresh --seed 7 --out DIR
"""

import argparse
import json
import os

import numpy as np

# Default sizes; see README.md for how they were chosen.
SIZES = {
    "translate": {"items": 4000, "sites": 4},
    "refresh": {"docs": 10000, "increments": 2, "history_share": 0.6,
                "exact_share": 0.05, "near_share": 0.05},
    "search": {"corpus": 6000, "batch": 1000, "queries": 300,
               "query_batches": 3, "dim": 64, "clusters": 64,
               "spread": 1.1},
}

SITE_CODES = ["en", "de", "fr", "es", "it", "ja", "ru", "pl", "pt", "zh"]
STOPWORDS = ["the", "a", "of", "and"]
NEAR_MIN_JACCARD = 0.8
TOP_K = 10


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return os.path.getsize(path)


def gen_translate(rng, out, items, sites):
    """Wikipedia-shaped inputs: a `sitelinks` TSV (id, site, title) and
    a space-separated `pagecounts` file (project, title, views).

    Item popularity is Zipf over a random rank; an item exists in a site
    with a probability that grows with its popularity and the site's
    size, so every site misses some items (the rows the job scores).
    Pagecount lines outside the `.z` project totals are noise the parser
    filters out, and ~2% of sitelinks have no pagecount line (dropped by
    the inner join)."""
    codes = SITE_CODES[:sites]
    rank = rng.permutation(items) + 1
    pop = -1.1 * np.log(rank)
    pop = (pop - pop.mean()) / pop.std()
    site_bias = np.linspace(1.8, -0.6, sites)
    present = rng.random((items, sites)) < 1.0 / (
        1.0 + np.exp(-(site_bias[None, :] + 1.6 * pop[:, None])))
    # every item lives in at least one site
    present[~present.any(axis=1), 0] = True
    views = np.exp(4.0 + 1.3 * pop[:, None] + 0.3 * site_bias[None, :]
                   + 0.6 * rng.standard_normal((items, sites)))
    views = np.maximum(1, views.astype(np.int64))
    counted = rng.random((items, sites)) >= 0.02

    links = ["id\tsite\ttitle"]
    pcs = []
    ii, ss = np.nonzero(present)
    for i, s in zip(ii.tolist(), ss.tolist()):
        title = "%s_T%d" % (codes[s], i)
        links.append("Q%d\t%swiki\t%s" % (i, codes[s], title))
        if counted[i, s]:
            pcs.append("%s.z %s %d" % (codes[s], title, views[i, s]))
    # noise: mobile-project lines the project-total filter must drop
    noise = rng.choice(len(ii), size=len(ii) // 5, replace=False)
    for n in noise.tolist():
        i, s = ii[n], ss[n]
        pcs.append("%s.m %s_T%d %d" % (codes[s], codes[s], i, views[i, s]))
    order = rng.permutation(len(pcs))
    pcs = [pcs[k] for k in order.tolist()]
    lb = _write_lines(os.path.join(out, "sitelinks.tsv"), links)
    pb = _write_lines(os.path.join(out, "pagecounts.txt"), pcs)
    return {
        "input_rows": len(links) - 1 + len(pcs),
        "input_bytes": lb + pb,
        "items": items,
        "sites": sites,
        "sitelinks_rows": len(links) - 1,
        "pagecount_rows": len(pcs),
        "missing_cells": int((~present).sum()),
    }


def shingles(tokens, n=3):
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_refresh(rng, out, docs, increments, history_share, exact_share,
                near_share, vocab=20000):
    """Crawl-shaped documents `(doc_id, lang, source, text)` in id
    order. The first `history_share` of ids are the history that
    `CorpusIncrement.init` absorbs; the rest split into `increments`
    consecutive batches. Inside the batches, planted exact duplicates
    copy an earlier original's text verbatim, and planted
    near-duplicates copy it with one or two tokens replaced (the first
    token always, so the exact key differs) at 3-shingle Jaccard >= 0.8.
    Every text is at least 1/8 stopwords, so it passes the fixed quality
    gate; some texts carry e-mail, phone and IPv4 PII at their end."""
    history = int(docs * history_share)
    bounds = [history + (docs - history) * k // increments
              for k in range(increments + 1)]
    langs = np.array(["de", "en", "es", "fr", "zh"])
    lang = rng.choice(5, size=docs, p=[0.15, 0.4, 0.15, 0.2, 0.1])
    source = rng.integers(0, 20, size=docs)
    length = rng.integers(40, 91, size=docs)
    words = np.array(["w%d" % v for v in range(vocab)] + STOPWORDS)
    total = int(length.sum())
    tok = rng.integers(0, vocab, size=total)
    offsets = np.concatenate([[0], np.cumsum(length)])
    # a stopword at every 7th position of a text (from its 4th token)
    # keeps the stopword ratio >= 1/8 even after PII is appended, so
    # every text passes the quality gate by construction
    pos = np.arange(total) - np.repeat(offsets[:-1], length)
    stop = (pos % 7 == 3) | (rng.random(total) < 0.05)
    tok[stop] = vocab + rng.integers(0, len(STOPWORDS), size=int(stop.sum()))
    toks = [tok[offsets[d]:offsets[d + 1]] for d in range(docs)]

    kind = np.zeros(docs, dtype=np.int64)   # 0 original, 1 exact, 2 near
    orig = np.full(docs, -1, dtype=np.int64)
    u = rng.random(docs)
    kind[history:] = np.where(u[history:] < exact_share, 1,
                              np.where(u[history:] < exact_share + near_share,
                                       2, 0))
    originals = np.nonzero(kind == 0)[0]
    near_j = []
    for d in np.nonzero(kind != 0)[0].tolist():
        # an earlier original: lower id, so keep-first drops the copy
        pool = originals[:np.searchsorted(originals, d)]
        o = int(pool[rng.integers(0, len(pool))])
        orig[d] = o
        if kind[d] == 1:
            toks[d] = toks[o]
            continue
        t = toks[o].copy()
        t[0] = (t[0] + 1 + rng.integers(0, vocab - 1)) % vocab
        mid = int(rng.integers(len(t) // 2, len(t) - 1))
        t2 = t.copy()
        t2[mid] = (t2[mid] + 1 + rng.integers(0, vocab - 1)) % vocab
        a = words[toks[o]].tolist()
        j = jaccard(a, words[t2].tolist())
        if j < NEAR_MIN_JACCARD:
            j = jaccard(a, words[t].tolist())
        else:
            t = t2
        toks[d] = t
        near_j.append(j)

    n_email = (rng.random(docs) < 0.10).astype(np.int64)
    n_phone = (rng.random(docs) < 0.08).astype(np.int64)
    n_ip = (rng.random(docs) < 0.06).astype(np.int64)
    a1, a2, a3 = (rng.integers(0, 256, size=docs) for _ in range(3))
    p1, p2 = rng.integers(100, 1000, size=docs), rng.integers(0, 10000,
                                                              size=docs)
    pii = []
    for d in range(docs):
        s = []
        if n_email[d]:
            s.append(" contact u%d@mail%d.com" % (d, d % 7))
        if n_phone[d]:
            s.append(" call 555-%03d-%04d" % (p1[d], p2[d]))
        if n_ip[d]:
            s.append(" from 10.%d.%d.%d" % (a1[d], a2[d], a3[d]))
        pii.append("".join(s))
    # a copy carries its original's PII verbatim
    for d in np.nonzero(kind != 0)[0].tolist():
        o = orig[d]
        pii[d] = pii[o]
        n_email[d], n_phone[d], n_ip[d] = n_email[o], n_phone[o], n_ip[o]

    rows = ["doc_id\tlang\tsource\ttext"]
    truth = ["doc_id\tkind\torig\tn_email\tn_phone\tn_ip"]
    for d in range(docs):
        rows.append("%d\t%s\tsrc%d\t%s%s" % (
            d, langs[lang[d]], source[d], " ".join(words[toks[d]].tolist()),
            pii[d]))
        truth.append("%d\t%d\t%d\t%d\t%d\t%d" % (
            d, kind[d], orig[d], n_email[d], n_phone[d], n_ip[d]))
    nb = _write_lines(os.path.join(out, "docs.tsv"), rows)
    _write_lines(os.path.join(out, "truth.tsv"), truth)
    return {
        "input_rows": docs,
        "input_bytes": nb,
        "docs": docs,
        "bounds": bounds,
        "planted_exact": int((kind == 1).sum()),
        "planted_near": int((kind == 2).sum()),
        "planted_email": int(n_email.sum()),
        "planted_phone": int(n_phone.sum()),
        "planted_ip": int(n_ip.sum()),
        "near_min_jaccard": round(min(near_j), 4) if near_j else None,
    }


def gen_search(rng, out, corpus, batch, queries, query_batches, dim,
               clusters, spread):
    """A Gaussian-mixture embedding corpus as CSV `(vec_id, f0..f<dim-1>)`:
    `clusters` equally likely unit-normal centres, each with isotropic
    noise of sd `spread`. The clusters overlap enough that the index's
    16-cell KMeans fit runs all its iterations on every seed, so the
    amount of work does not depend on the seed.
    `corpus.csv` is what `IndexLedger.init` fits, `batch.csv` the fresh
    vectors `absorb` adds, and `queries.csv` a held-out query set drawn
    from the same mixture, served in `query_batches` consecutive batches
    by id. `exact_top10.tsv` holds each query's exact cosine top-10 over
    corpus and batch, computed here by brute force."""
    centers = rng.standard_normal((clusters, dim))

    def draw(n):
        c = rng.integers(0, clusters, size=n)
        return centers[c] + spread * rng.standard_normal((n, dim))

    header = "vec_id," + ",".join("f%d" % i for i in range(dim))
    files, vecs = {}, {}
    next_id = 0
    for name, n in (("queries", queries), ("corpus", corpus),
                    ("batch", batch)):
        # the values exactly as the harness parses them (float32)
        v = np.round(draw(n), 4).astype(np.float32)
        ids = np.arange(next_id, next_id + n)
        next_id += n
        path = os.path.join(out, name + ".csv")
        with open(path, "w") as f:
            f.write(header + "\n")
            np.savetxt(f, np.column_stack([ids, v]),
                       fmt=["%d"] + ["%.4f"] * dim, delimiter=",")
        files[name] = os.path.getsize(path)
        vecs[name] = (ids, v.astype(np.float64))

    # exact cosine top-k of every query over all indexed vectors: the
    # reference the served top-k's recall is measured against
    cids = np.concatenate([vecs["corpus"][0], vecs["batch"][0]])
    cv = np.vstack([vecs["corpus"][1], vecs["batch"][1]])
    cv /= np.linalg.norm(cv, axis=1)[:, None]
    qids, qv = vecs["queries"]
    cos = (qv / np.linalg.norm(qv, axis=1)[:, None]) @ cv.T
    top = np.argsort(-cos, axis=1, kind="stable")[:, :TOP_K]
    _write_lines(os.path.join(out, "exact_top%d.tsv" % TOP_K), [
        "%d\t%s" % (q, ",".join(str(c) for c in cids[row].tolist()))
        for q, row in zip(qids.tolist(), top)])
    return {
        "input_rows": corpus + batch + queries,
        "input_bytes": sum(files.values()),
        "corpus": corpus,
        "batch": batch,
        "queries": queries,
        "query_batches": query_batches,
        "dim": dim,
        "clusters": clusters,
        "spread": spread,
    }


GENERATORS = {"translate": gen_translate, "refresh": gen_refresh,
              "search": gen_search}


def generate(workload, seed, out, sizes=None):
    """Write `workload`'s inputs for `seed` under `out` and return the
    manifest (also written to `out/manifest.json`)."""
    os.makedirs(out, exist_ok=True)
    # one stream per (workload, seed): workloads never share draws
    ws = sum(ord(c) for c in workload)
    rng = np.random.default_rng([seed, ws])
    params = dict(SIZES[workload], **(sizes or {}))
    m = GENERATORS[workload](rng, out, **params)
    m.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))


if __name__ == "__main__":
    main()
