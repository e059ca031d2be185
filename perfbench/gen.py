"""Seeded input generators for the benchmark.

Everything a run feeds the engine comes from here and from the seed alone:

- ``write_tables``: the star-schema and corpus tables the registry queries
  read (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), shaped like the engine's sf0.1 test fixture:
  same schemas, key ranges, vocabularies and near-duplicate structure.
- ``write_content``: the export path's fact table, derived from the
  generated events — one content row per event, with a tag-array column
  (duplicate keys and colon-less items included) and "unauthorized"
  sentinel values — plus a brand dimension table for meta-dimension joins.
- ``export_configs``: the export-configuration document and the run plan
  (which configs append into which shared destination, request windows,
  which configs extract through the paged HTTP source).
- ``shuffled``: the seeded order of the registry ops.
"""
import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "zh", "de", "fr", "es"]
TAG_KEYS = ["Campaign", "Franchise", "Key Name", "Channel", "Topic", "Series"]
TAG_COL = "lfm.content.tags"
TAG_VALUES = ["holiday", "retail", "spring", "x", "launch", "promo", "recap", "live"]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    """n random midnight timestamps in [start, end] as datetime64[us]."""
    span = (np.datetime64(end) - np.datetime64(start)).astype("timedelta64[D]").astype(int)
    return np.datetime64(start, "us") + (rng.integers(0, span + 1, n) * 86_400_000_000).astype(
        "timedelta64[us]")


N = {"customer": int(150_000 * SF), "supplier": int(10_000 * SF), "part": int(200_000 * SF),
     "orders": int(1_500_000 * SF), "lineitem": int(6_000_000 * SF),
     "events": int(1_000_000 * SF), "documents": int(50_000 * SF), "embeddings": int(20_000 * SF)}


def _region(seed, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def _nation(seed, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(seed, n):
    r = _rng(seed, 1)
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)],
    })


def _supplier(seed, n):
    r = _rng(seed, 2)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
    })


def _part(seed, n):
    r = _rng(seed, 3)
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"])
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n)], " "),
                              noun[r.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])[
            r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })


def _orders(seed, n):
    r = _rng(seed, 4)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, N["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, n)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _days(r, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[r.integers(0, 5, n)],
    })


def _lineitem(seed, n):
    r = _rng(seed, 5)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, N["orders"], n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, N["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, N["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n)],
        "l_shipdate": _days(r, n, "1995-01-02", "2001-11-04"),
    })


def _documents(seed, n):
    r = _rng(seed, 7)
    texts = [" ".join(r.choice(WORDS, r.integers(10, 101))) for _ in range(n)]
    # a few exact duplicates and 5% near-duplicates (an earlier text plus
    # one token), the structure the dedup family is built to find
    for i in r.choice(np.arange(1, n), 8, replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    for i in r.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=[0.41, 0.15, 0.14, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed, n):
    r = _rng(seed, 8)
    v = r.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def _events_table(seed, n):
    ev = _events(seed, n)
    return pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": ev["event_type"],
        "value": ev["value"],
        "props": ev["props"],
    })


TABLES = {"region": _region, "nation": _nation, "customer": _customer, "supplier": _supplier,
          "part": _part, "orders": _orders, "lineitem": _lineitem, "events": _events_table,
          "documents": _documents, "embeddings": _embeddings}


def write_tables(seed, out, names=tuple(TABLES)):
    """Write the fixture-shaped tables named in ``names`` at sf0.1 row counts."""
    for name in names:
        _write(TABLES[name](seed, N.get(name, 0)), f"{out}/{name}.parquet")


def _events(seed, n):
    r = _rng(seed, 6)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400_000_000
    ts = start + np.sort(r.integers(0, span_us, n)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, 1500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}"),
    }


def write_content(seed, out):
    """Content fact table (one row per generated event) and brand dims.

    Columns use the reference's dotted LFM names. ``lfm.content.tags`` is
    an array of "Key Name: value" strings with duplicate keys and
    colon-less notes; ``lfm.content.type`` carries the "unauthorized"
    sentinel on ~2% of rows, and ~4% of brands have the sentinel as name.
    """
    n = N["events"]
    ev = _events(seed, n)
    r = _rng(seed, 9)
    n_tags = r.integers(0, 4, n)
    key_ix = r.integers(0, len(TAG_KEYS), (n, 3))
    val_ix = r.integers(0, len(TAG_VALUES), (n, 3))
    note = r.random(n) < 0.1
    tags = []
    for i in range(n):
        t = [f"{TAG_KEYS[key_ix[i, j]]}: {TAG_VALUES[val_ix[i, j]]}" for j in range(n_tags[i])]
        if note[i]:
            t.append("untagged-note")
        tags.append(t)
    ctype = ev["event_type"].astype(object)
    ctype[r.random(n) < 0.02] = "unauthorized"
    day = ev["ts"].astype("datetime64[D]")
    _write(pa.table({
        "lfm.content.id": pa.array(ev["event_id"], pa.int64()),
        "lfm.brand_view.id": pa.array(ev["user_id"], pa.int64()),
        "lfm.fact.date_str": np.datetime_as_string(day),
        "lfm.content.posted_on_datetime": np.char.replace(
            np.datetime_as_string(ev["ts"].astype("datetime64[s]")), "T", " "),
        "lfm.content.type": pa.array(ctype, pa.string()),
        "lfm.content.tags": pa.array(tags, pa.list_(pa.string())),
        "lfm.post_engagement_score": ev["value"],
        "lfm.audience.total_fans": pa.array(r.integers(0, 5000, n), pa.int64()),
    }), f"{out}/content.parquet")

    nb = 1500
    name = np.char.add("Brand#", np.arange(nb).astype(str)).astype(object)
    name[r.random(nb) < 0.04] = "unauthorized"
    _write(pa.table({
        "lfm.brand.id": pa.array(np.arange(nb), pa.int64()),
        "lfm.brand.name": pa.array(name, pa.string()),
        "lfm.brand.segment": np.array(SEGMENTS)[r.integers(0, 5, nb)],
    }), f"{out}/brands.parquet")


# metric name -> declared dtype, per fact source
CONTENT_METRICS = {
    "sum:lfm.post_engagement_score": "float64",
    "count:lfm.content.id": "int64",
    "max:lfm.post_engagement_score": "float64",
    "sum:lfm.audience.total_fans": "int64",
    "min:lfm.audience.total_fans": "int64",
    "count_distinct:lfm.content.type": "int64",
}
PAGED_METRICS = {"sum:metric": "float64", "count:metric": "int64", "max:metric": "float64",
                 "min:metric": "float64"}


TODAY = "2024-02-05"  # the export run's "today": request windows fall in the events' month


def stub_spec(seed):
    """Rows the loopback page service serves: ``PagedSource.row(offset + i)``
    for ``i < total``, in pages of ``page_size``; one page request in
    ``fail_every`` fails once."""
    r = _rng(seed, 12)
    return {"offset": int(r.integers(0, 1_000_000)), "total": 97 * 28 * 20,
            "page_size": 97 * 28 * 2, "fail_every": 20, "salt": int(seed)}


# The export round: one shape per config, in order. Configs alternate
# between two destinations, so each destination gets, in order, a
# tag-pivot config, a paged-source config and a plain one. Fields:
# (dataset kind, tag column, other meta-dimensions, metrics — a count to
# draw, or a fixed list —, group by date too, brand-list size). The paged
# configs' metrics are fixed because they decide whether the source takes
# the aggregation: min/max/count push down to the page service, a sum
# (decimal-cast) does not.
EXPORT_SHAPES = [
    ("content", True, ["lfm.brand.name"], 2, True, 150),
    ("plain", True, ["lfm.brand.segment", "lfm.content.type"], 3, False, 40),
    ("paged", False, [], ["sum:metric", "max:metric"], True, 30),
    ("paged", False, [], ["min:metric", "max:metric", "count:metric"], False, 10),
    ("content", False, ["lfm.brand.name", "lfm.brand.segment"], 4, True, 500),
    ("plain", False, [], 1, True, 8),
]
DATASET = {"content": "dataset_content_metrics", "plain": "dataset_brand_daily",
           "paged": "dataset_paged_metrics"}


def export_configs(seed, today=TODAY):
    """The export-configuration document and the plan that drives it.

    Returns (document, plan). ``document`` is the JSON text keyed by
    config id that ``ExportConfig.parseAll`` reads. ``plan`` lists, per
    config: destination, request window, extraction source and tag column.
    Configs share destinations, so later appends add columns (schema
    evolution) and the sink's schema reads grow during a round.

    The configs take their shapes from ``EXPORT_SHAPES``, so every seed
    runs the same kinds and amounts of work; the seed draws which metrics,
    which brands and which ten-day request window. Every config is
    non-empty by construction.
    """
    r = _rng(seed, 10)
    doc, plan = {}, []
    t = dt.date.fromisoformat(today)
    for i, (kind, tags, meta, metrics, by_date, n_brands) in enumerate(EXPORT_SHAPES):
        cid = f"cfg{i:02d}"
        if kind == "paged":
            pool = PAGED_METRICS
            group_by = {"brand_id": "int64", **({"date_str": "string"} if by_date else {})}
            brands = r.choice(97, n_brands, replace=False)
        else:
            pool = CONTENT_METRICS
            group_by = {"lfm.brand_view.id": "int64",
                        **({"lfm.fact.date_str": "datetime64[ns]"} if by_date else {})}
            brands = r.choice(1500, n_brands, replace=False)
        names = list(pool)
        picked = metrics if isinstance(metrics, list) else sorted(
            r.choice(names, metrics, replace=False), key=names.index)
        doc[cid] = {
            "dataset_id": DATASET[kind],
            "metrics": {m: pool[m] for m in picked},
            "group_by": group_by,
            "meta_dimensions": {m: "string" for m in meta + ([TAG_COL] if tags else [])},
            "brands": sorted(int(b) for b in brands),
        }
        start_ago = int(r.integers(12, 26))
        plan.append({
            "config_id": cid,
            "dest": f"dest{i % 2}",
            "source": "paged" if kind == "paged" else "content",
            "tags": tags,
            "request_start": f"{{{{nDaysAgo {start_ago}}}}}",
            "request_end": f"{{{{nDaysAgo {start_ago - 10}}}}}",
            "start_date": (t - dt.timedelta(days=start_ago)).isoformat(),
            "end_date": (t - dt.timedelta(days=start_ago - 10)).isoformat(),
        })
    return json.dumps(doc, indent=1), plan


def shuffled(seed, names):
    """The op order of a registry run."""
    out = list(names)
    _rng(seed, 11).shuffle(out)
    return out
