"""Seeded DV3F API payloads and the table state they must produce.

The expected state is computed here from the generated cells alone, by
the rules of the reference pipeline, without calling the program:

- one staged row per (annee, code, cod) with at least one non-null
  indicator; `nbtrans` is an integer, the other nine are doubles;
- `uid` is the SHA-256 hex of annee + code + cod;
- an upsert replaces whole rows by `uid` and keeps rows it does not name.
"""
import hashlib
import json
import os
import random

METRICS = ["nbtrans", "valeurfonc_sum", "valeurfonc_q25", "valeurfonc_median",
           "valeurfonc_q75", "pxm2_q25", "pxm2_median", "pxm2_q75",
           "sbati_sum", "sbati_median"]

TABLES = {"departement": "src_departement", "region": "src_region"}

# One catalogue of property-type codes shared by every partition, as the
# API's wide columns `<metric>_cod<NNN>` are. 111 and 121 are the codes of
# the reference's payload examples; the reference's full catalogue is not
# known here, so the other 28 are stand-ins on the same three-digit
# pattern. Only their number (30 codes x 10 indicators = 300 wide
# columns per payload) shapes the work.
CODS = [100 + 10 * a + b for a in range(1, 6) for b in range(1, 7)]


def default_scopes():
    """The 119 fan-out partitions: 18 regions, then 101 departements."""
    regions = ["01", "02", "03", "04", "06", "11", "24", "27", "28", "32",
               "44", "52", "53", "75", "76", "84", "93", "94"]
    deps = ([f"{n:02d}" for n in list(range(1, 20)) + list(range(21, 96))]
            + ["2A", "2B"] + [str(n) for n in range(971, 975)] + ["976"])
    return [("region", c) for c in regions] + [("departement", c) for c in deps]


def _value(rng, metric):
    if metric == "nbtrans":
        return rng.randint(1, 5000)
    return round(rng.uniform(10.0, 5.0e6), 2)


def _revise(rng, cells, share):
    """A copy of `cells` with a `share` of them given new values."""
    out = {a: dict(c) for a, c in cells.items()}
    for a in out:
        for k in out[a]:
            if rng.random() < share:
                out[a][k] = _value(rng, k[0])
    return out


def _cells(rng, years, cods, null_share):
    """{annee: {(metric, cod): value or None}} for one partition."""
    return {str(a): {(m, c): (None if rng.random() < null_share else _value(rng, m))
                     for c in cods for m in METRICS}
            for a in years}


def _objects(scope, code, cells):
    key, lib = ("dep", "libdep") if scope == "departement" else ("reg", "libreg")
    out = []
    for annee in sorted(cells):
        o = {"annee": annee, key: code, lib: f"{scope.title()} {code}"}
        for (m, c), v in sorted(cells[annee].items()):
            o[f"{m}_cod{c}"] = v
        out.append(o)
    return out


def staged_rows(code, cells):
    """uid -> (annee, code, cod, metric tuple) for the rows one partition
    stages."""
    rows = {}
    for annee, cell in cells.items():
        for c in sorted({c for (_, c) in cell}):
            vals = tuple(cell[(m, c)] for m in METRICS)
            if any(v is not None for v in vals):
                uid = hashlib.sha256(f"{annee}{code}{c}".encode()).hexdigest()
                rows[uid] = (annee, code, str(c), tuple(
                    None if v is None else (int(v) if i == 0 else float(v))
                    for i, v in enumerate(vals)))
    return rows


def _write_pages(d, scope, code, objs, pages):
    """First page at <scope>_<code>.json, the rest under pages/ via `next`;
    no page is empty (the source rejects an empty `results`)."""
    pages = min(pages, len(objs))
    chunks = [objs[i::pages] for i in range(pages)]
    names = [f"{scope}_{code}.json"] + [f"pages/{scope}_{code}_{i + 1}.json"
                                        for i in range(1, len(chunks))]
    for i, chunk in enumerate(chunks):
        doc = {"count": len(objs),
               "next": names[i + 1] if i + 1 < len(chunks) else None,
               "previous": names[i - 1] if i > 0 else None,
               "results": chunk}
        with open(os.path.join(d, names[i]), "w") as f:
            json.dump(doc, f, separators=(",", ":"))


def generate(out_dir, seed, cfg):
    """Write the original, revised and trickle payload sets under
    `out_dir`; return the plan fragment, the expected table states after
    each phase and the expected dashboard rows after each commit.

    The refresh revises a share of the cells and adds a year, so one
    commit holds updates and inserts. Each trickle branch revises its
    refreshed payload again and adds one more year, so every commit
    changes what the tables and the dashboard read.
    """
    rng = random.Random(seed)
    scopes = default_scopes()
    cods = CODS[:cfg["cods"]]
    years = list(range(cfg["first_year"], cfg["first_year"] + cfg["years"]))
    new_year = years[-1] + 1
    orig_dir, rev_dir, trickle_dir = (os.path.join(out_dir, n)
                                      for n in ("payloads", "revised", "trickle"))
    for d in (orig_dir, rev_dir):
        os.makedirs(os.path.join(d, "pages"))
    os.makedirs(trickle_dir)

    state = {"backfill": {t: {} for t in TABLES.values()}}
    revised_cells = {}
    for scope, code in scopes:
        cells = _cells(rng, years, cods, cfg["null_share"])
        revised = _revise(rng, cells, cfg["change_share"])
        revised.update(_cells(rng, [new_year], cods, cfg["null_share"]))
        pages = 1 + (rng.random() < cfg["paged_share"]) * rng.randint(1, 2)
        _write_pages(orig_dir, scope, code, _objects(scope, code, cells), pages)
        _write_pages(rev_dir, scope, code, _objects(scope, code, revised), pages)
        state["backfill"][TABLES[scope]].update(staged_rows(code, cells))
        revised_cells[(scope, code)] = revised

    state["refresh"] = {t: dict(rows) for t, rows in state["backfill"].items()}
    for (scope, code), cells in revised_cells.items():
        state["refresh"][TABLES[scope]].update(staged_rows(code, cells))

    # after each trickle commit: the tables so far and the dashboard rows
    trickle = rng.sample(scopes, cfg["branches"])
    tables = {t: dict(rows) for t, rows in state["refresh"].items()}
    branch_rows, after_commit = {}, []
    for scope, code in trickle:
        cells = _revise(rng, revised_cells[(scope, code)], cfg["change_share"])
        cells.update(_cells(rng, [new_year + 1], cods, cfg["null_share"]))
        objs = _objects(scope, code, cells)
        with open(os.path.join(trickle_dir, f"{scope}_{code}.json"), "w") as f:
            json.dump({"count": len(objs), "next": None, "previous": None,
                       "results": objs}, f, separators=(",", ":"))
        rows = staged_rows(code, cells)
        branch_rows[f"{scope}_{code}"] = len(rows)
        tables[TABLES[scope]].update(rows)
        after_commit.append(dashboard_expected(tables))
    state["trickle"] = tables
    return {
        "payload_dir": orig_dir, "revised_dir": rev_dir, "trickle_dir": trickle_dir,
        "trickle": [list(b) for b in trickle], "branch_rows": branch_rows,
    }, state, after_commit


def table_digest(rows):
    """(row count, SHA-256 prefix over the sorted (uid, metrics) rows) of
    an expected table state, reported in the detail line."""
    h = hashlib.sha256()
    for uid in sorted(rows):
        h.update(json.dumps([uid, list(rows[uid][3])]).encode())
    return len(rows), h.hexdigest()[:16]


# An Evidence-style dashboard page over the staging views, read after
# every trickle commit; `dashboard_expected` gives the leading columns of
# each query's rows (the float aggregates are left out).
DASHBOARD = [
    "SELECT annee, count(*) AS n, sum(nbtrans) AS nbtrans, sum(valeurfonc_sum) AS valeurfonc "
    "FROM src_departement_v GROUP BY annee ORDER BY annee",
    "SELECT reg, libreg, avg(pxm2_median) AS pxm2, max(valeurfonc_median) AS vmax "
    "FROM src_region_v WHERE annee = (SELECT max(annee) FROM src_region_v) "
    "GROUP BY reg, libreg ORDER BY pxm2 DESC NULLS LAST, reg LIMIT 10",
    "SELECT dep, libdep, sum(nbtrans) AS n FROM src_departement_v "
    "GROUP BY dep, libdep ORDER BY n DESC, dep LIMIT 20",
    "SELECT d.annee, count(DISTINCT d.cod) AS cods, sum(d.sbati_sum) AS sbati "
    "FROM src_departement_v d JOIN src_region_v r ON d.annee = r.annee AND d.cod = r.cod "
    "GROUP BY d.annee ORDER BY d.annee",
]


def dashboard_expected(state):
    """Leading columns of each DASHBOARD query's rows, as strings."""
    dep = list(state["src_departement"].values())
    reg = list(state["src_region"].values())
    years = sorted({r[0] for r in dep})
    q0 = [(y, str(sum(1 for r in dep if r[0] == y)),
           str(sum(r[3][0] or 0 for r in dep if r[0] == y))) for y in years]
    last = max(r[0] for r in reg)
    pxm2 = {}
    for r in reg:
        if r[0] == last:
            pxm2.setdefault(r[1], [])
            if r[3][6] is not None:
                pxm2[r[1]].append(r[3][6])
    avg = {k: (sum(v) / len(v) if v else None) for k, v in pxm2.items()}
    q1 = [(k,) for k in sorted(avg, key=lambda k: (avg[k] is None, -(avg[k] or 0), k))[:10]]
    n = {}
    for r in dep:
        n[r[1]] = n.get(r[1], 0) + (r[3][0] or 0)
    q2 = [(k, f"Departement {k}", str(v))
          for k, v in sorted(n.items(), key=lambda kv: (-kv[1], kv[0]))[:20]]
    regkeys = {(r[0], r[2]) for r in reg}
    cods = {}
    for r in dep:
        if (r[0], r[2]) in regkeys:
            cods.setdefault(r[0], set()).add(r[2])
    q3 = [(y, str(len(cods[y]))) for y in sorted(cods)]
    return [q0, q1, q2, q3]
