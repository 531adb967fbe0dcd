"""Seeded inputs for the two workloads.

Every generator is a pure function of the seed: the same seed writes the
same bytes.  The program under test only ever sees the files written here.

- ``offres``: the job-offer corpus the stub France Travail API serves,
  with skewed regions / departements / ROME codes and a share of offers
  without an id.  The layout of the skew is fixed (REGIONS, _cells);
  the seed picks texts, ids, null ids and the order.
- ``index_docs`` / ``index_vecs``: the sf0.1 ``documents`` and
  ``embeddings`` fixture tables (copies in ``fixtures/sf0.1``) in a
  seeded order, with planted near-duplicates among the documents.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.1")


# -- harvest corpus ---------------------------------------------------------

TECH_ROME = ["M1801", "M1802", "M1803", "M1805", "M1806"]
OTHER_ROME = ["M1403", "D1106", "D1211", "G1602", "G1603", "H1203", "J1501",
              "K2111", "N1103", "N4101", "A1414", "C1502", "F1603", "I1304",
              "K1302"]
ROMES = TECH_ROME + OTHER_ROME

# Fixed skew, scaled by the corpus size.  At the reference's real limits
# (maxPerFilter 3149, pageSize 150) with N_OFFRES offers:
#  - region 11 (6 departements) holds 40 %: it saturates and splits;
#    departement 75 holds 60 % of it (4800), saturates and splits into
#    departement x ROME; M1805 holds 70 % of departement 75 (3360), a
#    leaf that overflows;
#  - region 84 (4 departements) holds 20 % (4000): it saturates, and its
#    departements (<= 1800 each) page directly;
#  - the eleven other regions hold 40 % between them and page directly.
N_OFFRES = 20_000
NULL_ID_SHARE = 0.02
REGIONS = {
    "11": (0.40, {"75": 0.60, "92": 0.12, "93": 0.10, "94": 0.08, "78": 0.06, "91": 0.04}),
    "84": (0.20, {"69": 0.45, "38": 0.25, "42": 0.15, "73": 0.15}),
}
SMALL_REGIONS = ["24", "27", "28", "32", "44", "52", "53", "75R", "76", "93R", "94R"]


def _cells(n):
    """(region, departement, rome, count): the fixed layout of the corpus."""
    cells = []
    for reg, (share, depts) in REGIONS.items():
        for d, dshare in depts.items():
            nd = int(round(n * share * dshare))
            if d == "75":
                hot = int(round(nd * 0.70))
                cells.append((reg, d, "M1805", hot))
                rest = ROMES[:3] + ROMES[4:]
                for i, r in enumerate(rest):
                    cells.append((reg, d, r, (nd - hot) // len(rest) + (1 if i < (nd - hot) % len(rest) else 0)))
            else:
                for i, r in enumerate(ROMES):
                    cells.append((reg, d, r, nd // len(ROMES) + (1 if i < nd % len(ROMES) else 0)))
    rest = n - sum(c[3] for c in cells)
    per = rest // len(SMALL_REGIONS)
    for j, reg in enumerate(SMALL_REGIONS):
        nr = per + (rest - per * len(SMALL_REGIONS) if j == 0 else 0)
        depts = [f"{reg}a", f"{reg}b"]
        for k in range(len(ROMES) * 2):
            cnt = nr // (len(ROMES) * 2) + (1 if k < nr % (len(ROMES) * 2) else 0)
            cells.append((reg, depts[k % 2], ROMES[k // 2], cnt))
    return [c for c in cells if c[3] > 0]


DECOR = ["\r", "&nbsp", "«", "»", "✔", "➡", ",", ";", ":", "!", "?", "(", ")", "/",
         "·", "-", "*", ".", "¿", '"']
TITLE_WORDS = ("Développeur Data Engineer Analyste Chef projet Technicien Consultant "
               "Architecte Administrateur Ingénieur Support Réseau Cloud Python "
               "Java Spark Senior Junior H/F").split()


def _noisy(rng, k):
    words = [TITLE_WORDS[i] for i in rng.integers(0, len(TITLE_WORDS), k)]
    out = []
    for w in words:
        out.append(w)
        if rng.random() < 0.3:
            out.append(DECOR[rng.integers(0, len(DECOR))])
    return " ".join(out)


def offres(seed, path):
    """Writes the corpus as JSON lines (id null for NULL_ID_SHARE of it)."""
    rng = np.random.default_rng([seed, 2])
    rows = []
    for reg, d, rome, cnt in _cells(N_OFFRES):
        rows.extend([(reg, d, rome)] * cnt)
    order = rng.permutation(len(rows))
    nulls = rng.random(len(rows)) < NULL_ID_SHARE
    ids = rng.permutation(10 * len(rows))[:len(rows)]
    with open(path, "w", encoding="utf-8") as f:
        for j, i in enumerate(order):
            reg, d, rome = rows[i]
            f.write(json.dumps({
                "id": None if nulls[j] else f"{ids[j]:07d}X",
                "intitule": _noisy(rng, int(rng.integers(2, 6))),
                "description": _noisy(rng, int(rng.integers(8, 30))),
                "romeCode": rome, "region": reg, "departement": d},
                ensure_ascii=False) + "\n")


# -- index workload ---------------------------------------------------------

EDIT_RATES = [0.02, 0.05, 0.10, 0.20]
PLANTED_SHARE = 0.25


def index_docs(seed, path, n_base):
    """The fixture documents in a seeded order, ids renumbered 0..n-1.

    The first n_base are the base documents.  From n_base on, a seeded
    PLANTED_SHARE of the documents are replaced by a near-duplicate of an
    earlier document: one of EDIT_RATES of its words swapped for words
    drawn from the fixture's own word frequencies.  The fixture's own
    near-duplicates (its "dup" documents) stay as they are.
    """
    rng = np.random.default_rng([seed, 3])
    fx = pq.read_table(f"{FIXTURES}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    order = rng.permutation(len(fx["doc_id"]))
    texts = [fx["text"][i] for i in order]
    fixture_id = np.array([fx["doc_id"][i] for i in order], np.int64)
    vocab, counts = np.unique([w for t in texts for w in t.split()], return_counts=True)
    freq = counts / counts.sum()
    n = len(texts)
    src = np.full(n, -1, np.int64)
    rate = np.zeros(n)
    for i in range(n_base, n):
        if rng.random() < PLANTED_SHARE:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            r = EDIT_RATES[int(rng.integers(0, len(EDIT_RATES)))]
            for p in np.nonzero(rng.random(len(toks)) < r)[0]:
                toks[p] = str(rng.choice(vocab, p=freq))
            texts[i] = " ".join(toks)
            src[i], rate[i], fixture_id[i] = j, r, -1
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()), "text": texts,
        "fixture_doc_id": pa.array(fixture_id, pa.int64()),
        "planted_from": pa.array(src, pa.int64()), "edit_rate": rate}), path)


def index_vecs(seed, path):
    """The fixture vectors in a seeded order, ids renumbered 0..n-1."""
    rng = np.random.default_rng([seed, 4])
    fx = pq.read_table(f"{FIXTURES}/embeddings.parquet")
    order = rng.permutation(fx.num_rows)
    fx = fx.take(pa.array(order))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(fx.num_rows), pa.int64()),
        "embedding": fx.column("embedding"), "label": fx.column("label"),
        "fixture_vec_id": fx.column("vec_id")}), path)
