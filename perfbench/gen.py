"""Seeded input generators for the benchmark workloads.

Every generator takes a numpy Generator built from the run's --seed, so
the same seed yields byte-identical inputs. The program under test only
ever sees the files written here.

- ``sf_tables``: the ten sf-shaped parquet tables the query suite reads,
  at a fractional scale (1.0 = the sf0.1 row counts), with the
  distributions of the repository's sf1 fixture generator.
- ``geodata``: a reference-shaped source set for the pipeline (GeoJSON,
  GeoPackage, shapefile, zip archives, paged ESRI-REST and OGC page
  directories, files served over HTTP), in SWEREF99 TM (EPSG:3006). Each
  feature lies wholly inside the AOI polygon or wholly outside it, so
  the post-clip count of every source is known by construction.
- ``corpora``: the unit-norm float[64] vector corpus and the document
  corpus of the index churn workload, with its fold batches and queries.
"""
import json
import os
import sqlite3
import struct
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86400000000
ORD_LO, ORD_HI = 9131, 11536
SHIP_LO, SHIP_HI = 9132, 11631
EVT_LO_NS = 1704067200 * 10**9
EVT_SPAN_NS = 30 * 86400 * 10**9 - 60 * 10**9

VOCAB = np.array("""a agg batch big column customer data dup fast filter group
hash join key line merge order part query row scan slow small sort spark
stream table the value vector window""".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.412, 0.151, 0.149, 0.148, 0.140])
SEGMENTS = np.array(["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
ETYPES = np.array(["click", "error", "purchase", "signup", "view"])
PTYPES = np.array(["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"])
ADJ = np.array("blue hot small cold new large old red green heavy".split())
NOUN = np.array("ring rod bolt anvil widget plate gear wheel".split())
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(days):
    return pa.array(days.astype("int64") * DAY_US, type=pa.timestamp("us"))


def _texts(rng, n, lo=10, hi=101):
    lens = rng.integers(lo, hi, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n)]


def _unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype("float32")


def _vec_column(v):
    return pa.FixedSizeListArray.from_arrays(
        pa.array(v.ravel()), v.shape[1]).cast(pa.list_(pa.float32()))


def sf_tables(out, rng, scale):
    """Write the sf-shaped tables; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    n = lambda base, floor=1: max(floor, int(round(base * scale)))
    n_cust, n_supp, n_part = n(15000), n(1000, 25), n(20000)
    n_ord, n_evt, n_doc, n_emb = n(150000), n(100000), n(5000, 200), n(2000, 200)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}),
    }
    ck = np.arange(n_cust, dtype="int64")
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)])})
    sk = np.arange(n_supp, dtype="int64")
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(np.char.add(np.char.add(
            ADJ[rng.integers(0, len(ADJ), n_part)], " "),
            NOUN[rng.integers(0, len(NOUN), n_part)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(PTYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": _money(rng, 900, 1000, n_part)})
    ok = np.arange(n_ord, dtype="int64")
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng.integers(ORD_LO, ORD_HI + 1, n_ord)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)])})
    nlines = np.minimum(rng.poisson(3.0, n_ord) + 1, 17)
    lok = np.repeat(ok, nlines)
    nl = len(lok)
    linenum = np.arange(nl) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, nl).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, nl).astype("int64"),
        "l_linenumber": linenum.astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _days(rng.integers(SHIP_LO, SHIP_HI + 1, nl))})
    ek = np.arange(n_evt, dtype="int64")
    tables["events"] = pa.table({
        "event_id": ek,
        "ts": pa.array((EVT_LO_NS + rng.integers(0, EVT_SPAN_NS, n_evt)) // 1000,
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(1500 * scale)), n_evt).astype("int64"),
        "event_type": pa.array(ETYPES[rng.integers(0, 5, n_evt)]),
        "value": _money(rng, 0, 560, n_evt),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, n_evt)])})
    dk = np.arange(n_doc, dtype="int64")
    texts = _texts(rng, n_doc)
    tables["documents"] = pa.table({
        "doc_id": dk,
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))})
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": _vec_column(_unit_vectors(rng, n_emb)),
        "label": pa.array(rng.integers(0, 10, n_emb).astype("int32"))})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


# ---------------------------------------------------------------------------
# geodata
# ---------------------------------------------------------------------------

# L-shaped AOI in EPSG:3006; the notch (x > 420 km, y > 6520 km) lies
# inside the AOI's envelope but outside the polygon, so the exact clip
# (not only the bbox prefilter) decides those features.
AOI = [(400000, 6500000), (440000, 6500000), (440000, 6520000),
       (420000, 6520000), (420000, 6540000), (400000, 6540000),
       (400000, 6500000)]
AOI_WKT = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in AOI) + "))"
# zones keep a 1 km margin to every AOI edge; features are < 500 m wide
INSIDE = [(401000, 6501000, 439000, 6519000), (401000, 6521000, 419000, 6539000)]
NOTCH = [(421000, 6521000, 439000, 6539000)]
FAR = [(450000, 6500000, 480000, 6540000)]
CRS = {"type": "name", "properties": {"name": "EPSG:3006"}}
PRJ = ('PROJCS["SWEREF99 TM",GEOGCS["GCS_SWEREF99",DATUM["D_SWEREF99",'
       'SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],'
       'UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],'
       'UNIT["Meter",1.0],AUTHORITY["EPSG","3006"]]')
CATEGORIES = ["road", "water", "building", "forest", "rail"]


def _features(rng, n, kind, inside_share):
    """n features of one geometry kind; returns (list of (geom, props), n_inside)."""
    n_in = int(rng.binomial(n, inside_share))
    zones = [INSIDE] * n_in + [NOTCH if rng.random() < 0.5 else FAR
                              for _ in range(n - n_in)]
    out = []
    for i, zs in enumerate(zones):
        x0, y0, x1, y1 = zs[int(rng.integers(0, len(zs)))]
        x = float(np.round(rng.uniform(x0, x1), 2))
        y = float(np.round(rng.uniform(y0, y1), 2))
        w = float(np.round(rng.uniform(20, 400), 2))
        if kind == "Point":
            g = ("Point", [x, y])
        elif kind == "LineString":
            g = ("LineString", [[x, y], [x + w, y + w / 2], [x + w, y + w]])
        else:
            g = ("Polygon", [[[x, y], [x + w, y], [x + w, y + w], [x, y + w], [x, y]]])
        props = {"fid": i + 1, "name": f"feature_{i:05d}",
                 "category": CATEGORIES[int(rng.integers(0, len(CATEGORIES)))],
                 "value": float(np.round(rng.uniform(0, 1000), 2))}
        out.append((g, props))
    return out, n_in


def _fc(feats, links=None):
    fc = {"type": "FeatureCollection", "crs": CRS, "features": [
        {"type": "Feature", "properties": p,
         "geometry": {"type": g[0], "coordinates": g[1]}} for g, p in feats]}
    if links:
        fc["links"] = links
    return fc


def _write_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, separators=(",", ":"))


def _wkb(g):
    kind, c = g
    if kind == "Point":
        return struct.pack("<BIdd", 1, 1, *c)
    if kind == "LineString":
        return struct.pack("<BII", 1, 2, len(c)) + b"".join(struct.pack("<dd", *p) for p in c)
    out = struct.pack("<BII", 1, 3, len(c))
    for r in c:
        out += struct.pack("<I", len(r)) + b"".join(struct.pack("<dd", *p) for p in r)
    return out


def _gpkg(path, layers):
    """layers: {table: features}; a minimal GeoPackage in EPSG:3006."""
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, "
                "srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL, "
                "organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, "
                "description TEXT)")
    cur.execute("INSERT INTO gpkg_spatial_ref_sys VALUES "
                "('SWEREF99 TM', 3006, 'EPSG', 3006, 'undefined', NULL)")
    cur.execute("CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY KEY, "
                "data_type TEXT NOT NULL, identifier TEXT UNIQUE, description TEXT DEFAULT '', "
                "last_change DATETIME, min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, "
                "max_y DOUBLE, srs_id INTEGER)")
    cur.execute("CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, "
                "column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, "
                "srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL, "
                "CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))")
    for table, feats in layers.items():
        cur.execute(f"CREATE TABLE {table} (fid INTEGER PRIMARY KEY, name TEXT, "
                    "category TEXT, value REAL, geom BLOB)")
        cur.execute("INSERT INTO gpkg_contents VALUES "
                    f"('{table}','features','{table}','',NULL,NULL,NULL,NULL,NULL,3006)")
        gtype = feats[0][0][0].upper() if feats else "GEOMETRY"
        cur.execute(f"INSERT INTO gpkg_geometry_columns VALUES ('{table}','geom','{gtype}',3006,0,0)")
        cur.executemany(
            f"INSERT INTO {table} (fid, name, category, value, geom) VALUES (?,?,?,?,?)",
            [(p["fid"], p["name"], p["category"], p["value"],
              b"GP" + bytes([0, 1]) + struct.pack("<i", 3006) + _wkb(g))
             for g, p in feats])
    con.commit()
    con.close()


def _shp(stem, feats):
    """Write stem.shp/.shx/.dbf/.prj for one geometry kind; returns file paths."""
    kind = feats[0][0][0]
    stype = {"Point": 1, "LineString": 3, "Polygon": 5}[kind]
    recs, boxes = [], []
    for g, _ in feats:
        c = g[1]
        if kind == "Point":
            recs.append(struct.pack("<idd", 1, *c))
            boxes.append((c[0], c[1], c[0], c[1]))
            continue
        parts = [c] if kind == "LineString" else c
        if kind == "Polygon":  # shapefile outer rings run clockwise
            parts = [list(reversed(r)) for r in parts]
        pts = [p for r in parts for p in r]
        xs, ys = [p[0] for p in pts], [p[1] for p in pts]
        box = (min(xs), min(ys), max(xs), max(ys))
        boxes.append(box)
        body = struct.pack("<i", stype) + struct.pack("<dddd", *box)
        body += struct.pack("<ii", len(parts), len(pts))
        start = 0
        for r in parts:
            body += struct.pack("<i", start)
            start += len(r)
        body += b"".join(struct.pack("<dd", *p) for p in pts)
        recs.append(body)
    bbox = (min(b[0] for b in boxes), min(b[1] for b in boxes),
            max(b[2] for b in boxes), max(b[3] for b in boxes))

    def header(total_bytes):
        h = struct.pack(">iiiiiii", 9994, 0, 0, 0, 0, 0, total_bytes // 2)
        return h + struct.pack("<ii", 1000, stype) + struct.pack("<dddd", *bbox) + b"\0" * 32

    shp_body, shx_body, off = b"", b"", 100
    for i, r in enumerate(recs):
        shp_body += struct.pack(">ii", i + 1, len(r) // 2) + r
        shx_body += struct.pack(">ii", off // 2, len(r) // 2)
        off += 8 + len(r)
    fields = [("NAME", "C", 16, 0), ("CATEGORY", "C", 10, 0), ("VALUE", "N", 12, 2)]
    rec_size = 1 + sum(f[2] for f in fields)
    dbf = struct.pack("<BBBBiHH20x", 3, 26, 1, 1, len(feats),
                      32 + 32 * len(fields) + 1, rec_size)
    for name, ftype, flen, fdec in fields:
        dbf += name.encode().ljust(11, b"\0") + ftype.encode() + b"\0" * 4
        dbf += struct.pack("<BB", flen, fdec) + b"\0" * 14
    dbf += b"\x0d"
    for _, p in feats:
        dbf += b" " + p["name"].ljust(16)[:16].encode() + p["category"].ljust(10)[:10].encode()
        dbf += f"{p['value']:.2f}".rjust(12).encode()
    dbf += b"\x1a"
    files = {".shp": header(100 + len(shp_body)) + shp_body,
             ".shx": header(100 + len(shx_body)) + shx_body,
             ".dbf": dbf, ".prj": PRJ.encode()}
    paths = []
    for ext, data in files.items():
        with open(stem + ext, "wb") as f:
            f.write(data)
        paths.append(stem + ext)
    return paths


def _long_tail(rng, n_sources, largest, smallest):
    """Feature counts with a heavy tail (one large table, many small ones)."""
    ranks = np.arange(1, n_sources + 1)
    counts = np.maximum(smallest, (largest / ranks ** 1.3)).astype(int)
    jitter = rng.uniform(0.85, 1.15, n_sources)
    counts = np.maximum(smallest, (counts * jitter).astype(int))
    return [int(c) for c in rng.permutation(counts)]


# one entry per reader path, dealt out in order with the long-tailed
# counts; the archive and HTTP routes end in the shapefile, GeoJSON and
# GeoPackage readers, so five sources reach every reader
READERS = ["zip_shp", "rest", "ogc", "http_geojson", "atom_gpkg"]


def geodata(out, rng, n_sources, largest, smallest, page_size):
    """Write the source files; returns the manifest the harness and the
    checks read: the AOI and, per source, its config and expected counts.
    Sources whose url starts with ``http:`` hold a path relative to the
    served directory; the harness prefixes its server's address."""
    files = os.path.join(out, "files")
    served = os.path.join(out, "served")
    os.makedirs(files, exist_ok=True)
    os.makedirs(served, exist_ok=True)
    counts = _long_tail(rng, n_sources, largest, smallest)
    kinds = ["Point", "Polygon", "LineString"]
    sources = []
    for i, n in enumerate(counts):
        reader = READERS[i % len(READERS)]
        kind = kinds[i % len(kinds)]
        inside_share = float(rng.uniform(0.4, 0.9))
        name = f"Layer {i:02d} {reader}"
        auth = ["LST", "SKS", "TRV", "SGU"][i % 4]
        stem = f"src{i:02d}"
        src = {"name": name, "authority": auth, "raw": {}}
        if reader in ("rest", "ogc", "zip_shp", "atom_gpkg"):
            # multi-part sources: two layers/collections/tables
            halves = [n // 2, n - n // 2]
        else:
            halves = [n]
        parts = [_features(rng, h, kind, inside_share) for h in halves]
        staged = sum(len(f) for f, _ in parts)
        kept = sum(k for _, k in parts)
        if reader == "http_geojson":
            _write_json(os.path.join(served, f"{stem}.geojson"), _fc(parts[0][0]))
            src.update(type="file", url=f"http:{stem}.geojson", raw={"cache_ttl": 0})
        elif reader == "atom_gpkg":
            _gpkg(os.path.join(served, f"{stem}.gpkg"),
                  {f"{stem}_a": parts[0][0], f"{stem}_b": parts[1][0]})
            src.update(type="atom_feed", url=f"http:{stem}.gpkg", raw={"cache_ttl": 0})
        elif reader == "zip_shp":
            tmp = os.path.join(out, "tmp", stem)
            os.makedirs(tmp, exist_ok=True)
            path = os.path.join(files, f"{stem}.zip")
            with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
                for j, (feats, _) in enumerate(parts):
                    for p in _shp(os.path.join(tmp, f"{stem}_{j}"), feats):
                        z.write(p, os.path.basename(p))
            src.update(type="file", url=path, staged_data_type="shapefile_collection")
        elif reader == "rest":
            svc = os.path.join(files, stem)
            for layer, (feats, _) in enumerate(parts):
                for pg, lo in enumerate(range(0, max(1, len(feats)), page_size)):
                    page = _fc(feats[lo:lo + page_size])
                    page["exceededTransferLimit"] = lo + page_size < len(feats)
                    _write_json(os.path.join(svc, f"layer-{layer}", f"page-{pg}.json"), page)
            src.update(type="rest_api", url=svc, raw={"layer_ids": [0, 1]})
        elif reader == "ogc":
            svc = os.path.join(files, stem)
            cols = [f"c{j}" for j in range(len(parts))]
            _write_json(os.path.join(svc, "collections.json"), {"collections": [
                {"id": c, "title": c,
                 "storageCrs": "http://www.opengis.net/def/crs/EPSG/0/3006"} for c in cols]})
            for c, (feats, _) in zip(cols, parts):
                pages = [feats[lo:lo + page_size] for lo in range(0, max(1, len(feats)), page_size)]
                for pg, chunk in enumerate(pages):
                    links = [{"rel": "self", "href": f"items-{pg + 1}.json"}]
                    if pg + 1 < len(pages):
                        links.append({"rel": "next", "href": f"items-{pg + 2}.json"})
                    _write_json(os.path.join(svc, "collections", c, f"items-{pg + 1}.json"),
                                _fc(chunk, links))
            src.update(type="ogc_api", url=svc, raw={"collections": cols})
        src.update(reader=reader, staged=staged, kept=kept)
        sources.append(src)
    return {"aoi_wkt": AOI_WKT, "target_srid": 3010, "sources": sources}


# ---------------------------------------------------------------------------
# index churn corpora
# ---------------------------------------------------------------------------

def corpora(out, rng, n_vec, n_doc, batch, n_batches, n_queries, n_clusters):
    """Corpus vectors/documents (ids 0..n-1), a pool of fold batches with
    fresh ids, and probe queries. Vectors are unit-norm points around
    ``n_clusters`` centres, as real embeddings cluster; queries are
    perturbed corpus vectors. Returns the sizes."""
    os.makedirs(out, exist_ok=True)
    pool = batch * n_batches
    centres = _unit_vectors(rng, n_clusters)
    total = n_vec + pool + n_queries
    # corpus vector i sits in cluster i mod n_clusters, so the index's
    # seed sample (the first C ids) holds one vector of each cluster when
    # n_clusters equals the index's cell count C
    cluster = np.concatenate([np.arange(n_vec) % n_clusters,
                              rng.integers(0, n_clusters, pool + n_queries)])
    vecs = centres[cluster] + 0.075 * rng.standard_normal((total, centres.shape[1]))
    vecs[n_vec + pool:] = vecs[rng.integers(0, n_vec, n_queries)] + \
        0.05 * rng.standard_normal((n_queries, centres.shape[1]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vec + pool, dtype="int64"),
        "embedding": _vec_column(vecs[:n_vec + pool]),
        "batch": pa.array(np.concatenate([np.full(n_vec, -1), np.arange(pool) // batch])
                          .astype("int32"))}), os.path.join(out, "vectors.parquet"))
    pq.write_table(pa.table({
        "query_id": np.arange(n_queries, dtype="int64"),
        "embedding": _vec_column(vecs[n_vec + pool:])}), os.path.join(out, "queries.parquet"))
    texts = _texts(rng, n_doc + pool, 20, 60)
    # every seventh document is a one-word edit of a corpus document, so
    # the band index has near-duplicate pairs to find
    for i in range(0, n_doc + pool, 7):
        words = texts[int(rng.integers(0, n_doc))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    pq.write_table(pa.table({
        "doc_id": np.arange(n_doc + pool, dtype="int64"),
        "text": pa.array(texts),
        "batch": pa.array(np.concatenate([np.full(n_doc, -1), np.arange(pool) // batch])
                          .astype("int32"))}), os.path.join(out, "documents.parquet"))
    return {"vectors": n_vec, "documents": n_doc, "batch": batch,
            "batches": n_batches, "queries": n_queries, "clusters": n_clusters}


def brute_top_k(vectors, queries, k):
    """Exact cosine top-k corpus ids per query (ties broken by id)."""
    sims = queries.astype("float64") @ vectors.astype("float64").T
    order = np.lexsort((np.broadcast_to(np.arange(vectors.shape[0]), sims.shape), -sims), axis=1)
    return order[:, :k]
