"""Expected outputs computed by the benchmark alone.

Nothing here calls crawler code: the link graph is read back out of the
generated page bodies with the benchmark's own regex, reachability is a
NumPy BFS, robots rules are applied by the benchmark's own prefix
matcher, and near-duplicate clusters come from comparing every pair of
fingerprints.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGE_RE = r"^http://h(\d+)\.test/p/(\d+)$"
HREF_RE = r'href="([^"]+)"'


def pages(graph: DataFrame) -> DataFrame:
    """(pid, hid, url) of every page row of a generated graph."""
    return (graph.where(F.col("url").rlike(PAGE_RE))
            .select(F.regexp_extract("url", PAGE_RE, 2).cast("long")
                    .alias("pid"),
                    F.regexp_extract("url", PAGE_RE, 1).cast("long")
                    .alias("hid"), "url"))


def edge_arrays(graph: DataFrame):
    """(n_nodes, hid per node, src, dst) as NumPy arrays."""
    pg = pages(graph)
    meta = pg.select("pid", "hid").toPandas()
    n = int(meta["pid"].max()) + 1
    hid = np.full(n, -1, dtype=np.int64)
    hid[meta["pid"].to_numpy()] = meta["hid"].to_numpy()
    e = (graph.where(F.col("url").rlike(PAGE_RE))
         .select(F.regexp_extract("url", PAGE_RE, 2).cast("long")
                 .alias("src"),
                 F.explode(F.regexp_extract_all(
                     "body", F.lit(HREF_RE), 1)).alias("href"))
         .select("src", F.regexp_extract("href", PAGE_RE, 2)
                 .cast("long").alias("dst"))
         .toPandas())
    return n, hid, e["src"].to_numpy(), e["dst"].to_numpy()


def bfs_visited(n: int, src: np.ndarray, dst: np.ndarray,
                seeds: np.ndarray, allowed: np.ndarray | None = None,
                max_depth: int | None = None) -> np.ndarray:
    """Node ids fetched by a breadth-first crawl: seeds at depth 0,
    a node is fetched only if ``allowed`` and expanded only if fetched,
    and nothing deeper than ``max_depth`` is fetched."""
    order = np.argsort(src, kind="stable")
    s, d = src[order], dst[order]
    indptr = np.searchsorted(s, np.arange(n + 1))
    ok = np.ones(n, dtype=bool) if allowed is None else allowed
    level = np.full(n, -1, dtype=np.int64)
    frontier = np.unique(seeds)
    frontier = frontier[ok[frontier]]
    level[frontier] = 0
    depth = 0
    while frontier.size and (max_depth is None or depth < max_depth):
        nb = np.concatenate([d[indptr[u]:indptr[u + 1]] for u in frontier])
        nb = np.unique(nb)
        nb = nb[(level[nb] < 0) & ok[nb]]
        depth += 1
        level[nb] = depth
        frontier = nb
    return np.flatnonzero(level >= 0)


def disallow_prefixes(robots_txt: str) -> list[str]:
    """``Disallow`` path prefixes of a robots.txt the benchmark wrote
    (one ``User-agent: *`` group, so every Disallow line applies)."""
    out = []
    for line in robots_txt.splitlines():
        m = re.match(r"\s*Disallow\s*:\s*(\S+)", line, re.I)
        if m:
            out.append(m.group(1))
    return out


def allowed_mask(n: int, hid: np.ndarray,
                 prefixes_by_host: dict[int, list[str]]) -> np.ndarray:
    ok = np.ones(n, dtype=bool)
    for pid in range(n):
        rules = prefixes_by_host.get(int(hid[pid]))
        if rules and any(f"/p/{pid}".startswith(p) for p in rules):
            ok[pid] = False
    return ok


def digest_col(col: str):
    """Order-independent digest of a set of urls: the exact sum of
    their xxhash64 values."""
    return F.sum(F.xxhash64(col).cast("decimal(38,0)"))


def expected_summary(spark, graph: DataFrame, pids: np.ndarray) -> dict:
    import pandas as pd

    want = spark.createDataFrame(
        pd.DataFrame({"pid": pids.astype("int64")}), "pid long")
    row = (pages(graph).join(want, "pid")
           .agg(F.count(F.lit(1)).alias("n"), digest_col("url").alias("d"))
           .first())
    return {"n": int(row.n), "digest": int(row.d or 0)}


def visited_summary(results: DataFrame) -> dict:
    """Rows recorded, distinct urls and their digest, in one job."""
    per_url = results.groupBy("url_norm").count()
    row = per_url.agg(F.sum("count").alias("rows"),
                      F.count(F.lit(1)).alias("n"),
                      digest_col("url_norm").alias("d")).first()
    return {"rows": int(row.rows or 0), "n": int(row.n),
            "digest": int(row.d or 0)}


def check_visited(got: dict, want: dict) -> list[str]:
    """Mismatches between a crawl's results and the expected set; every
    page must be recorded exactly once."""
    errs = []
    if got["n"] != want["n"]:
        errs.append(f"visited {got['n']} urls, expected {want['n']}")
    if got["digest"] != want["digest"]:
        errs.append("visited-set digest differs from the expected set")
    if got["rows"] != got["n"]:
        errs.append(f"{got['rows']} result rows for {got['n']} urls")
    return errs


# -- payload ---------------------------------------------------------------

def hamming_components(ids: np.ndarray, fps: np.ndarray,
                       max_hamming: int) -> dict:
    """doc_id -> component (the least id in it) for every id within
    ``max_hamming`` bits of another, by comparing all pairs."""
    fps = fps.astype(np.int64).view(np.uint64)
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(ids) - 1):
        x = np.bitwise_xor(fps[i], fps[i + 1:])
        bits = np.unpackbits(x.view(np.uint8)).reshape(-1, 64).sum(axis=1)
        for j in np.flatnonzero(bits <= max_hamming) + i + 1:
            a, b = int(ids[i]), int(ids[j])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def planted_recall(components: dict, ids, offset: int) -> float:
    """Share of planted twins (id k + offset of base k) that share a
    component with their base."""
    twins = [i for i in ids if i >= offset]
    found = sum(1 for t in twins if t in components
                and components[t] == components.get(t - offset))
    return found / len(twins) if twins else 1.0


def check_payload(validated: DataFrame, captions: DataFrame,
                  components: DataFrame, survivors: DataFrame,
                  want_rows: int, want_components: dict,
                  offset: int) -> list[str]:
    errs = []
    v = (validated.join(captions, "image_id", "left")
         .agg(F.count(F.lit(1)).alias("rows"),
              F.sum((~F.coalesce("pixels_ok", F.lit(False)))
                    .cast("long")).alias("bad_px"),
              F.sum((~F.coalesce(F.col("caption") == F.col("want_caption"),
                                 F.lit(False))).cast("long"))
              .alias("bad_cap"))
         .first())
    if v.rows != want_rows:
        errs.append(f"validated {v.rows} rows, expected {want_rows}")
    if v.bad_px:
        errs.append(f"{v.bad_px} rows not pixels_ok")
    if v.bad_cap:
        errs.append(f"{v.bad_cap} rows with a wrong caption")
    got = {r.doc_id: r.component for r in components.collect()}
    if got != want_components:
        n_got = len(set(got.values()))
        n_want = len(set(want_components.values()))
        errs.append(f"{n_got} near-dup clusters, expected {n_want}"
                    f" ({len(set(got.items()) ^ set(want_components.items()))}"
                    " memberships differ)")
    twins = survivors.where(F.col("doc_id") >= offset).count()
    if twins:
        errs.append(f"{twins} planted caption twins survived near-dup")
    return errs
