"""Seeded, cached input generation.

The same seed gives byte-identical inputs: workspaces are git repositories
written with a fixed identity and fixed dates, so their commit ids repeat,
and the request list is serialized with sorted keys. Inputs are cached
under ``.perfbench/cache/<kind>-<seed>-v<GEN_VERSION>`` and copied into the
run directory, so the program never sees state a previous run left.
"""

from __future__ import annotations

import html
import json
import os
import shutil
import subprocess

import numpy as np

from common import CACHE, dir_mb

# Bump when the generated bytes change, so stale caches are not reused.
GEN_VERSION = 2

WORKSPACES = ("ws_a", "ws_b")
N_VERSIONS = 8
BASE_ROWS = 36_000  # rows in v1; every later version appends APPEND_ROWS
APPEND_ROWS = 2_000
N_REGIONS = 20
N_PRODUCTS = 100
CATEGORIES = ("tools", "garden", "toys", "books", "audio", "kitchen")

_GIT_ENV = {
    "GIT_AUTHOR_NAME": "perfbench",
    "GIT_AUTHOR_EMAIL": "perfbench@localhost",
    "GIT_COMMITTER_NAME": "perfbench",
    "GIT_COMMITTER_EMAIL": "perfbench@localhost",
    "GIT_CONFIG_NOSYSTEM": "1",
    "GIT_CONFIG_GLOBAL": os.devnull,
}


def git(repo: str, *args: str, date: int | None = None) -> str:
    env = dict(os.environ, **_GIT_ENV)
    if date is not None:
        stamp = f"{date} +0000"
        env["GIT_AUTHOR_DATE"] = env["GIT_COMMITTER_DATE"] = stamp
    out = subprocess.run(
        ["git", "-C", repo, *args], env=env, capture_output=True, check=True
    )
    return out.stdout.decode()


def git_bytes(repo: str, commit: str, path: str) -> bytes:
    return subprocess.run(
        ["git", "-C", repo, "show", f"{commit}:{path}"],
        capture_output=True,
        check=True,
    ).stdout


# -- workspaces -------------------------------------------------------------


def _sales_rows(rng: np.random.Generator, start: int, n: int) -> np.ndarray:
    """Columns order_id, day, region_id, product_id, qty, price_cents."""
    return np.column_stack(
        [
            np.arange(start, start + n),
            rng.integers(1, 361, n),
            rng.integers(0, N_REGIONS, n),
            rng.integers(0, N_PRODUCTS, n),
            rng.integers(1, 21, n),
            rng.integers(199, 50_000, n),
        ]
    ).astype(np.int64)


SALES_COLUMNS = ("order_id", "day", "region_id", "product_id", "qty", "price_cents")


def _csv_lines(rows: np.ndarray) -> str:
    return "".join(",".join(map(str, r)) + "\n" for r in rows.tolist())


def _regions_csv(rng: np.random.Generator, renamed: int | None) -> str:
    countries = ("north", "south", "east", "west")
    lines = ["region_id,region_name,country"]
    for i in range(N_REGIONS):
        name = f"region_{i:02d}" + ("_renamed" if i == renamed else "")
        lines.append(f"{i},{name},{countries[int(rng.integers(0, 4))]}")
    return "\n".join(lines) + "\n"


def _write_products(path: str, rng: np.random.Generator) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cats = np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), N_PRODUCTS)]
    table = pa.table(
        {
            "product_id": pa.array(np.arange(N_PRODUCTS), pa.int64()),
            "category": pa.array(cats.tolist()),
            "weight_g": pa.array(rng.integers(50, 5000, N_PRODUCTS), pa.int64()),
        }
    )
    pq.write_table(table, path, compression="zstd")


def _write_docs(repo: str, rng: np.random.Generator, version: int) -> None:
    words = ("query", "table", "version", "join", "region", "chart", "sales")
    os.makedirs(os.path.join(repo, "docs", "notes"), exist_ok=True)
    with open(os.path.join(repo, "docs", "README.md"), "w") as f:
        f.write(f"# Sales workspace\n\nversion {version}: ")
        f.write(" ".join(words[int(i)] for i in rng.integers(0, len(words), 40)))
        f.write("\n")
    with open(os.path.join(repo, "docs", "notes", f"v{version}.txt"), "w") as f:
        f.write(f"notes for v{version} <{int(rng.integers(0, 1000))}> & more\n")


def make_workspace(repo: str, rng: np.random.Generator) -> np.ndarray:
    """A git workspace with N_VERSIONS tagged versions of a CSV fact table
    (``sales``), a CSV dimension (``regions``), a parquet table
    (``products``) and a few docs. Returns the final sales rows."""
    os.makedirs(repo)
    git(repo, "init", "-q", "-b", "main")
    rows = _sales_rows(rng, 0, BASE_ROWS)
    with open(os.path.join(repo, "sales.csv"), "w") as f:
        f.write(",".join(SALES_COLUMNS) + "\n" + _csv_lines(rows))
    for v in range(1, N_VERSIONS + 1):
        if v > 1:  # versions append rows
            new = _sales_rows(rng, len(rows), APPEND_ROWS)
            rows = np.vstack([rows, new])
            with open(os.path.join(repo, "sales.csv"), "a") as f:
                f.write(_csv_lines(new))
        if v in (1, 4):  # one region renamed at v4
            with open(os.path.join(repo, "regions.csv"), "w") as f:
                f.write(_regions_csv(np.random.default_rng(v), 3 if v == 4 else None))
        if v in (1, 6):  # product categories reshuffled at v6
            _write_products(os.path.join(repo, "products.parquet"), rng)
        _write_docs(repo, rng, v)
        git(repo, "add", "-A")
        git(repo, "commit", "-q", "-m", f"version {v}", date=1_700_000_000 + v * 3600)
        git(repo, "tag", f"v{v}")
    return rows


def _cached(kind: str, seed: int, build) -> str:
    """Build ``kind`` for ``seed`` once into the cache; return its dir."""
    path = os.path.join(CACHE, f"{kind}-{seed}-v{GEN_VERSION}")
    if os.path.isfile(os.path.join(path, "DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, seed)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def copy_mount(cached: str, dest: str) -> str:
    mount = os.path.join(dest, "mount")
    shutil.copytree(os.path.join(cached, "mount"), mount, symlinks=True)
    return mount


def load_json(cached: str, name: str):
    with open(os.path.join(cached, name)) as f:
        return json.load(f)


def _dump(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=0)


# -- serve_read -------------------------------------------------------------

# name -> engine SQL. ``{at}`` is a pinned tag for the version-reference
# templates; the other parameters are drawn per request.
TEMPLATES = {
    "groupby": (
        "SELECT region_id, count(*) AS n, sum(qty) AS units,"
        " sum(qty * price_cents) AS revenue FROM sales"
        " GROUP BY region_id ORDER BY region_id"
    ),
    "filter_count": (
        "SELECT count(*) AS n FROM sales"
        " WHERE qty >= {qmin} AND day BETWEEN {d0} AND {d1}"
    ),
    "join_dim": (
        "SELECT r.region_name, sum(s.qty) AS units FROM sales s"
        " JOIN regions r ON s.region_id = r.region_id"
        " GROUP BY r.region_name ORDER BY units DESC, r.region_name"
    ),
    "join_parquet": (
        "SELECT p.category, count(*) AS n, sum(s.qty * p.weight_g) AS grams"
        " FROM sales s JOIN products p ON s.product_id = p.product_id"
        " GROUP BY p.category ORDER BY p.category"
    ),
    "topk": (
        "SELECT order_id, qty * price_cents AS amount FROM sales"
        " ORDER BY amount DESC, order_id LIMIT {k}"
    ),
    "at_version": (
        "SELECT count(*) AS n, sum(qty) AS units FROM sales@{at}"
    ),
    "as_of": (
        "SELECT region_id, count(*) AS n FROM sales VERSION AS OF '{at}'"
        " WHERE day <= {d1} GROUP BY region_id ORDER BY region_id"
    ),
}
# kind -> one entry per request in the list: the reply format of a query,
# the path of a browse request. 13 queries (7 json, 2 csv, 3 html, 1 svg)
# and 3 browse requests; a short list, so a measured window covers it
# about twice.
REQUESTS = {
    "groupby": ("json", "html"),
    "filter_count": ("json", "csv"),
    "join_dim": ("json", "svg"),
    "join_parquet": ("csv", "html"),
    "topk": ("json", "json"),
    "at_version": ("json", "html"),
    "as_of": ("json",),
    "file": ("docs/README.md", "docs/README.md"),
    "listing": ("docs",),
}
VERSION_MIX = {"latest": 10, "tag": 4, "prefix": 2}


def _request_specs(rng: np.random.Generator, commits: dict) -> list[dict]:
    """The request list: the kinds, formats and version types of REQUESTS
    and VERSION_MIX in a seeded order, with seeded workspaces, versions and
    query parameters. Every seed gets the same mix, so the mix does not
    widen the spread between seeds."""
    kinds = [(k, f) for k, fmts in REQUESTS.items() for f in fmts]
    how = [h for h, n in VERSION_MIX.items() for _ in range(n)]
    assert len(how) == len(kinds)
    order = rng.permutation(len(kinds))
    rng.shuffle(how)
    specs = []
    for j, i in enumerate(order):
        kind, fmt = kinds[i]
        ws = WORKSPACES[int(rng.integers(0, len(WORKSPACES)))]
        tag = f"v{int(rng.integers(1, N_VERSIONS + 1))}"
        version = {"latest": "latest", "tag": tag, "prefix": commits[ws][tag][:10]}[how[j]]
        spec = {"kind": kind, "ws": ws, "version": version}
        if kind in TEMPLATES:
            d0 = int(rng.integers(1, 300))
            params = {
                "qmin": int(rng.integers(1, 20)),
                "d0": d0,
                "d1": d0 + int(rng.integers(10, 60)),
                "k": int(rng.integers(5, 40)),
                "at": f"v{int(rng.integers(1, N_VERSIONS))}",
            }
            spec.update(sql=TEMPLATES[kind].format(**params), fmt=fmt, at=params["at"])
        else:
            spec["path"] = fmt
        specs.append(spec)
    return specs


def _resolve(repo: str, version: str) -> str:
    ref = "HEAD" if version == "latest" else version
    return git(repo, "rev-parse", "--verify", f"{ref}^{{commit}}").strip()


def _oracle_sql(sql: str, commit: str, at_commit: str | None) -> str:
    """Rewrite an engine query to the DuckDB views of its commits."""
    import re

    c, a = commit[:12], (at_commit or "")[:12]
    sql = re.sub(r"\bsales@v\d+", f"sales_{a}", sql)
    sql = re.sub(r"\bsales VERSION AS OF 'v\d+'", f"sales_{a}", sql)
    for tbl in ("sales", "regions", "products"):
        sql = re.sub(rf"\b{tbl}\b(?!_)", f"{tbl}_{c}", sql)
    return sql


def _answers(mount: str, specs: list[dict], scratch: str) -> None:
    """Attach the expected answer to every spec, computed with DuckDB from
    ``git show <commit>:<file>`` (never from the engine's snapshots)."""
    import duckdb

    con = duckdb.connect()
    views: set[str] = set()

    def view(ws: str, commit: str) -> None:
        if commit in views:
            return
        views.add(commit)
        repo = os.path.join(mount, ws)
        d = os.path.join(scratch, commit)
        os.makedirs(d, exist_ok=True)
        for tbl, fn, reader in (
            ("sales", "sales.csv", "read_csv_auto"),
            ("regions", "regions.csv", "read_csv_auto"),
            ("products", "products.parquet", "read_parquet"),
        ):
            p = os.path.join(d, fn)
            with open(p, "wb") as f:
                f.write(git_bytes(repo, commit, fn))
            con.execute(
                f"CREATE TABLE {tbl}_{commit[:12]} AS SELECT * FROM {reader}('{p}')"
            )

    for spec in specs:
        repo = os.path.join(mount, spec["ws"])
        commit = _resolve(repo, spec["version"])
        spec["commit"] = commit
        if spec["kind"] in TEMPLATES:
            at_commit = _resolve(repo, spec["at"]) if "@" in spec["sql"] or "AS OF" in spec["sql"] else None
            view(spec["ws"], commit)
            if at_commit:
                view(spec["ws"], at_commit)
            cur = con.execute(_oracle_sql(spec["sql"], commit, at_commit))
            cols = [d[0] for d in cur.description]
            spec["expect_cols"] = cols
            spec["expect_rows"] = [list(r) for r in cur.fetchall()]
        elif spec["kind"] == "file":
            text = git_bytes(repo, commit, spec["path"]).decode()
            spec["expect_text"] = html.escape(text)
        else:
            # the server lists paths relative to the snapshot root
            names = git(repo, "ls-tree", "-r", "--name-only", commit, spec["path"] or ".")
            spec["expect_items"] = sorted(html.escape(n) for n in names.splitlines())


def _build_serve(out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    mount = os.path.join(out, "mount")
    commits = {}
    for ws in WORKSPACES:
        repo = os.path.join(mount, ws)
        make_workspace(repo, rng)
        commits[ws] = {f"v{v}": _resolve(repo, f"v{v}") for v in range(1, N_VERSIONS + 1)}
    specs = _request_specs(rng, commits)
    _answers(mount, specs, os.path.join(out, "oracle_tables"))
    shutil.rmtree(os.path.join(out, "oracle_tables"))
    _dump(os.path.join(out, "requests.json"), specs)
    _dump(os.path.join(out, "commits.json"), commits)


def serve_inputs(seed: int) -> tuple[str, dict]:
    """(cache dir, sizes record) for the serve_read workload."""
    path = _cached("serve", seed, _build_serve)
    specs = load_json(path, "requests.json")
    n_q = sum(1 for s in specs if s["kind"] in TEMPLATES)
    fmts = [s["fmt"] for s in specs if s["kind"] in TEMPLATES]
    vers = [s["version"] for s in specs]
    sizes = {
        "workspaces": len(WORKSPACES),
        "versions_per_workspace": N_VERSIONS,
        "fact_rows_latest": BASE_ROWS + (N_VERSIONS - 1) * APPEND_ROWS,
        "mount_mb": round(dir_mb(os.path.join(path, "mount")), 3),
        "requests": len(specs),
        "share_query": round(n_q / len(specs), 3),
        "share_browse": round(1 - n_q / len(specs), 3),
        "share_format": {f: round(fmts.count(f) / len(fmts), 3) for f in sorted(set(fmts))},
        "share_latest": round(vers.count("latest") / len(vers), 3),
    }
    return path, sizes


# -- library_ops: the write workspace ---------------------------------------


def _build_write(out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    repo = os.path.join(out, "mount", "ws_w")
    rows = make_workspace(repo, rng)
    np.save(os.path.join(out, "latest_rows.npy"), rows)
    pinned = int(rng.integers(1, N_VERSIONS))
    n = BASE_ROWS + (pinned - 1) * APPEND_ROWS
    _dump(
        os.path.join(out, "plan.json"),
        {"pinned": f"v{pinned}", "pinned_check": check_sums(rows[:n]),
         "bumps": [int(x) for x in rng.integers(0, 7, 64)]},
    )


def check_sums(rows: np.ndarray) -> list[int]:
    """The (n, units, checksum) triple the write workload reads back."""
    qty = rows[:, 4]
    return [int(len(rows)), int(qty.sum()), int((qty * (rows[:, 0] % 13)).sum())]


def write_inputs(seed: int) -> tuple[str, dict]:
    path = _cached("write", seed, _build_write)
    sizes = {
        "versions": N_VERSIONS,
        "fact_rows_latest": BASE_ROWS + (N_VERSIONS - 1) * APPEND_ROWS,
        "mount_mb": round(dir_mb(os.path.join(path, "mount")), 3),
    }
    return path, sizes


# -- library_ops: the registry fixture --------------------------------------

FIXTURE_SF = 0.01


def fixture_dir() -> str:
    """The registry fixture tables, generated by ``tools.gen_fixtures``
    (whose RNG is pinned, so this input does not vary with the seed)."""

    def build(out: str, _seed: int) -> None:
        from tools.gen_fixtures import gen

        gen(FIXTURE_SF, os.path.join(out, "tables"))

    return os.path.join(_cached(f"fixture-sf{FIXTURE_SF}", 42, build), "tables")
