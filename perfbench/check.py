"""Checks of a run's outputs against computations made apart from Spark.

Each ``check_<workload>`` returns a list of failure messages (empty when
every check passes).  The expected results come from DuckDB queries and
plain Python over the generated inputs, never from a stored copy of an
earlier run.
"""
import re

import duckdb
import numpy as np

CAP = 3149  # the reference's maxPerFilter
TECH = ["M1801", "M1802", "M1803", "M1805", "M1806"]


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


# -- harvest ----------------------------------------------------------------

def _norm_chain(t01_sql, column):
    """t01's oracle normalization chain, applied to ``column``."""
    start = t01_sql.index("trim(")
    end = t01_sql.index(" AS text_norm")
    return t01_sql[start:end].replace("lower(text)", f"lower({column})")


def check_harvest(run, data_dir, t01_sql):
    con = _con()
    con.execute(f"""CREATE TABLE corpus AS SELECT * FROM read_json('{data_dir}/offres.jsonl',
        columns={{id: 'VARCHAR', intitule: 'VARCHAR', description: 'VARCHAR',
                  romeCode: 'VARCHAR', region: 'VARCHAR', departement: 'VARCHAR'}})""")
    # the reference's split rule, written out: a filter is fetched when its
    # count fits the cap; regions split into departements, departements
    # into departement x ROME; a saturated leaf overflows
    con.execute(f"""CREATE TABLE cnt AS SELECT c.*,
        count(*) OVER (PARTITION BY region) AS n_r,
        count(*) OVER (PARTITION BY departement) AS n_d,
        count(*) OVER (PARTITION BY departement, romeCode) AS n_dm,
        count(*) OVER (PARTITION BY region, romeCode) AS n_rm
        FROM corpus c""")
    con.execute(f"""CREATE VIEW fetched AS SELECT * FROM cnt
        WHERE n_r <= {CAP} OR n_d <= {CAP} OR n_dm <= {CAP}""")
    n_overflow = con.execute(f"""SELECT count(DISTINCT (departement, romeCode)) FROM cnt
        WHERE n_r > {CAP} AND n_d > {CAP} AND n_dm > {CAP}""").fetchone()[0]
    n_null = con.execute("SELECT count(*) FROM fetched WHERE id IS NULL").fetchone()[0]
    # the csv-tech export: the ROME code is pushed, so a saturated
    # departement overflows without a further split
    tech = ",".join(f"'{t}'" for t in TECH)
    con.execute(f"""CREATE VIEW tech_expected AS SELECT id, romeCode,
        {_norm_chain(t01_sql, 'intitule')} AS intitule,
        {_norm_chain(t01_sql, 'description')} AS description
        FROM cnt WHERE romeCode IN ({tech}) AND (n_rm <= {CAP} OR n_dm <= {CAP})""")
    n_tech_overflow = con.execute(f"""SELECT count(DISTINCT (departement, romeCode)) FROM cnt
        WHERE romeCode IN ({tech}) AND n_rm > {CAP} AND n_dm > {CAP}""").fetchone()[0]
    if n_overflow < 1 or n_tech_overflow < 1:
        return [f"corpus has no overflowing leaf ({n_overflow}, {n_tech_overflow})"]

    bad = []
    for op in run["ops"]:
        info = op.get("info", {})
        if op.get("failed"):
            continue
        if op["kind"] == "full":
            d = info["dir"]
            missing, extra = con.execute(f"""SELECT
                (SELECT count(*) FROM (SELECT id, intitule, description, romeCode, region, departement
                   FROM fetched WHERE id IS NOT NULL EXCEPT
                   SELECT id, intitule, description, romeCode, region, departement
                   FROM read_parquet('{d}/offres/*.parquet'))),
                (SELECT count(*) FROM (SELECT id, intitule, description, romeCode, region, departement
                   FROM read_parquet('{d}/offres/*.parquet') EXCEPT
                   SELECT id, intitule, description, romeCode, region, departement
                   FROM fetched WHERE id IS NOT NULL))""").fetchone()
            rows, per_cell_bad = con.execute(f"""SELECT
                (SELECT count(*) FROM read_parquet('{d}/offres/*.parquet')),
                (SELECT count(*) FROM (
                   SELECT region, romeCode, count(*) FROM fetched WHERE id IS NOT NULL GROUP BY ALL
                   EXCEPT SELECT region, romeCode, count(*)
                   FROM read_parquet('{d}/offres/*.parquet') GROUP BY ALL))""").fetchone()
            n_err, n_err_over = con.execute(f"""SELECT count(*),
                count(*) FILTER (message LIKE 'overflow%')
                FROM read_parquet('{d}/erreurs/*.parquet')""").fetchone()
            expected_ids = con.execute(
                "SELECT count(*) FROM fetched WHERE id IS NOT NULL").fetchone()[0]
            if missing or extra or per_cell_bad or rows != expected_ids:
                bad.append(f"{op['name']} r{op['round']}: landed offres differ "
                           f"(missing {missing}, extra {extra}, rows {rows}/{expected_ids})")
            if n_err != n_null + n_overflow or n_err_over != n_overflow:
                bad.append(f"{op['name']} r{op['round']}: dead letters {n_err} "
                           f"(overflow {n_err_over}), expected {n_null}+{n_overflow}")
            if info["collected"] != expected_ids or info["erreurs"] != n_err:
                bad.append(f"{op['name']} r{op['round']}: job result {info} disagrees")
        elif op["kind"] == "filtered":
            d = info["dir"]
            con.execute(f"""CREATE OR REPLACE VIEW got AS SELECT * FROM read_csv('{d}/*.csv',
                header=false, all_varchar=true,
                columns={{id: 'VARCHAR', romeCode: 'VARCHAR', intitule: 'VARCHAR',
                          description: 'VARCHAR'}})""")
            missing, extra, rows = con.execute("""SELECT
                (SELECT count(*) FROM (SELECT * FROM tech_expected EXCEPT ALL SELECT * FROM got)),
                (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM tech_expected)),
                (SELECT count(*) FROM got)""").fetchone()
            if missing or extra:
                bad.append(f"{op['name']} r{op['round']}: csv-tech rows differ "
                           f"(missing {missing}, extra {extra}, rows {rows})")
            if info["overflows"] != n_tech_overflow:
                bad.append(f"{op['name']} r{op['round']}: {info['overflows']} overflows, "
                           f"expected {n_tech_overflow}")
    return bad


# -- index_refresh ----------------------------------------------------------

def _lsh_pairs(con, d03_sql):
    """All portable-LSH pairs over the ``documents`` table.

    The d03 oracle chain, split for speed: DuckDB normalizes the text and
    hashes the shingles exactly as the chain does, numpy applies the 32
    permutations (a*h + b mod 2^61-1, without 128-bit arithmetic), then
    banding, the component-match prefilter and the exact jaccard follow
    in plain Python.  DuckDB runs the chain's per-row list lambdas at
    about 0.1 s per document, too slow for a run.  The constants and
    the normalization are taken from the program's d03 oracle SQL; the
    geometry is asserted against it.
    """
    for frag in ("range(0, 8) t(b)", "sig[1 + 4*b : 4 + 4*b]", ">= 13", "jaccard >= 0.6",
                 "range(1, greatest(length(nt) - 3, 2))", "substr(md5(substr(nt, i, 5)), 1, 15)"):
        assert frag in d03_sql, f"d03 oracle changed shape: {frag!r} not found"
    lists = re.findall(r"\[([0-9, ]+)\]\[j\+1\]", d03_sql)
    a, b = (np.array([int(x) for x in l.split(",")], dtype=np.uint64) for l in lists[:2])
    mod = int(re.search(r"% (\d+)\)::BIGINT", d03_sql).group(1))
    assert mod == (1 << 61) - 1 and int(a.max()) < (1 << 31) and int(b.max()) < (1 << 31)
    norm = d03_sql[d03_sql.index("SELECT doc_id, trim(") + len("SELECT doc_id, "):
                   d03_sql.index(" AS nt FROM documents")]
    rows = con.execute(f"""
        WITH nt AS (SELECT doc_id, {norm} AS nt FROM documents)
        SELECT DISTINCT doc_id, ('0x' || substr(md5(substr(nt, i, 5)), 1, 15))::BIGINT AS h
        FROM nt, LATERAL (SELECT unnest(range(1, greatest(length(nt) - 3, 2))) AS i)
        ORDER BY doc_id""").fetchnumpy()
    ids, hs = rows["doc_id"], rows["h"].astype(np.uint64)
    m61, lo30 = np.uint64(mod), np.uint64((1 << 30) - 1)
    cut = np.flatnonzero(np.diff(ids)) + 1
    sigs, sets = {}, {}
    for d, h in zip(ids[np.r_[0, cut]], np.split(hs, cut)):
        h = h[None, :]
        p_lo = a[:, None] * (h & lo30)
        p_hi = a[:, None] * (h >> np.uint64(30))
        t = (p_hi >> np.uint64(31)) + ((p_hi & np.uint64((1 << 31) - 1)) << np.uint64(30)) \
            + p_lo + b[:, None]
        t = (t & m61) + (t >> np.uint64(61))
        t = np.where(t >= m61, t - m61, t)
        sigs[int(d)] = t.min(axis=1)
        sets[int(d)] = set(h[0].tolist())
    buckets = {}
    for d, s in sigs.items():
        for band in range(8):
            buckets.setdefault((band, s[4 * band:4 * band + 4].tobytes()), []).append(d)
    cand = {(x, y) for ds in buckets.values() for x in ds for y in ds if x < y}
    out = set()
    for x, y in cand:
        if int((sigs[x] == sigs[y]).sum()) >= 13:
            inter = len(sets[x] & sets[y])
            if inter / (len(sets[x]) + len(sets[y]) - inter) >= 0.6:
                out.add((x, y))
    return out


def check_index_refresh(run, data_dir, base_docs, base_vecs):
    checks = run["checks"]
    ops = [o for o in run["ops"] if not o.get("failed")]
    used = set(range(base_docs))
    for o in ops:
        i = o["info"]
        if o["kind"] == "append":
            used.update(range(*i["docs"]))
        elif o["kind"] == "lookup":
            used.update(range(*i["probe"]))
    used.update(range(*checks["final_probe"]))
    con = _con()
    con.execute(f"""CREATE TABLE documents AS SELECT doc_id, text
        FROM read_parquet('{data_dir}/index_docs.parquet')""")
    con.execute("CREATE TABLE used(doc_id BIGINT)")
    con.executemany("INSERT INTO used VALUES (?)", [(d,) for d in sorted(used)])
    con.execute("DELETE FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM used)")
    # every portable-LSH pair among the documents the run touched; a pair
    # is independent of the other documents, so each op's expected output
    # is a filter of this set
    pairs = _lsh_pairs(con, checks["d03_sql"])

    def touching(batch, visible):
        return {(a, b) for a, b in pairs
                if (a in batch and (b in batch or b in visible))
                or (b in batch and a in visible)}

    # kNN: the e13 chain (frozen centroids trained on the base slice) over
    # every vector the run appended, all candidates ranked once; a lookup's
    # expected top-5 is the ranking restricted to the vectors it could see
    tail = "WHERE rank <= 5 ORDER BY query_id, rank"
    assert checks["ivf_sql"].endswith(tail), "IVF oracle changed shape"
    max_vec = max([base_vecs] + [o["info"]["vecs"][1] for o in ops if o["kind"] == "append"])
    con.execute(f"""CREATE TABLE embeddings AS SELECT vec_id, embedding, label
        FROM read_parquet('{data_dir}/index_vecs.parquet') WHERE vec_id < {max_vec}""")
    ranked = con.execute(checks["ivf_sql"][:-len(tail)] + "ORDER BY query_id, rank").fetchall()

    def knn(visible):
        out, per = [], {}
        for q, _, n in ranked:
            if n in visible and per.get(q, 0) < 5:
                per[q] = per.get(q, 0) + 1
                out.append((q, per[q], n))
        return out

    bad = []
    visible, vis_vecs = set(range(base_docs)), set(range(base_vecs))
    tomb_docs, tomb_vecs = set(), set()
    drained = set()
    for o in ops:
        i = o["info"]
        if o["kind"] == "append":
            batch = set(range(*i["docs"]))
            drained |= touching(batch, visible)
            visible |= batch
            vis_vecs |= set(range(*i["vecs"]))
        elif o["kind"] == "takedown":
            visible -= set(i["docs"])
            vis_vecs -= set(i["vecs"])
            tomb_docs |= set(i["docs"])
            tomb_vecs |= set(i["vecs"])
        elif o["kind"] == "lookup":
            got = {tuple(p) for p in i["pairs"]}
            exp = touching(set(range(*i["probe"])), visible)
            if got != exp:
                bad.append(f"{o['name']}: {len(got)} pairs, closed form {len(exp)} "
                           f"(missing {sorted(exp - got)[:3]}, extra {sorted(got - exp)[:3]})")
            if [tuple(r) for r in i["knn"]] != knn(vis_vecs):
                bad.append(f"{o['name']}: kNN differs from the DuckDB IVF chain")
            hidden = ({x for p in got for x in p} & tomb_docs) | \
                ({n for _, _, n in i["knn"]} & tomb_vecs)
            if hidden:
                bad.append(f"{o['name']}: tombstoned ids {sorted(hidden)[:5]} returned")
    got_drain = {tuple(r) for r in con.execute(
        f"SELECT doc_a, doc_b FROM read_parquet('{checks['drain_dir']}/*.parquet')").fetchall()}
    if got_drain != drained:
        bad.append(f"drained {len(got_drain)} pairs, closed form {len(drained)} "
                   f"(missing {sorted(drained - got_drain)[:3]}, extra {sorted(got_drain - drained)[:3]})")
    final = {tuple(p) for p in checks["final_pairs"]}
    if final != touching(set(range(*checks["final_probe"])), visible):
        bad.append("final probe against the maintained index differs from the closed form")
    if not checks["final_matches_fresh_build"]:
        bad.append("maintained index detects differently from a from-scratch build")
    if not drained:
        bad.append("no near-duplicate pair was drained")
    return bad
