"""Seeded input generators and reference results for the flowbench workloads.

Every input is a pure function of (workload, seed, scale). The expected
outputs are computed here, in Python, straight from the generated source
rows; nothing reads graft's own output to decide what is right.

An expected output is a row count plus one checksum per column:
  * integral columns: exact sum;
  * floating columns: sum, compared with a small tolerance;
  * string columns: sum of CRC-32 of the UTF-8 bytes (Spark's crc32).
"""

import gzip
import json
import math
import os
import zlib
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# Row counts stay the same for every seed, so every seed does the same
# amount of work; the seed moves values, the file split, separators and
# gzip choices.
SCALES = {
    "full": {
        "wide_rows": 200_000, "wide_parts": 16,
        "mm_samples": 6, "mm_lanes": 6, "mm_chroms": 4,
        "mm_expr_rows": 9_000, "mm_var_rows": 4_800, "mm_qc_rows": 240,
        "mm_genes": 2_000,
        "docs": 400, "panel_rows": 12_000,
    },
    # about sf0.001: used by the self-test
    "tiny": {
        "wide_rows": 6_000, "wide_parts": 2,
        "mm_samples": 3, "mm_lanes": 2, "mm_chroms": 2,
        "mm_expr_rows": 600, "mm_var_rows": 300, "mm_qc_rows": 30,
        "mm_genes": 100,
        "docs": 100, "panel_rows": 6_000,
    },
}

# One query per target: the near-dup verify kernel (q445), iterative
# checkpoints (q77) and sparse self-joins (q255). q13_minhash_neardup finds
# q445's pairs by another path and q109_sparse_cosine is a second sparse
# self-join; both are left out to keep a panel run near 35 s.
PANEL = ["q445_oph_neardup", "q77_pagerank", "q255_item_cf"]
# the tables each panel query scans, for the panel's input bytes
PANEL_TABLES = {"q445_oph_neardup": ["documents"],
                "q77_pagerank": ["lineitem"],
                "q255_item_cf": ["lineitem"]}

WIDE_IDS = ["l_orderkey", "l_partkey"]
WIDE_MELT = ["l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
             "l_discount", "l_tax", "l_commitdays", "l_receiptdays"]

VOCAB = ("a the data spark scan join hash sort merge filter group agg query "
         "table column row line part order key value window stream batch "
         "vector big small fast slow customer index block page shard split "
         "token model score rank graph edge node").split()


def crc(s):
    return zlib.crc32(s.encode("utf-8"))


class Checksum:
    """Row count plus per-column sums, built up row by row or column by column."""

    def __init__(self, columns):
        self.columns = columns  # name -> "int" | "float" | "str"
        self.rows = 0
        self.sums = {c: 0 for c in columns}

    def add_column(self, name, values, repeat=1):
        kind = self.columns[name]
        if kind == "str":
            self.sums[name] += repeat * sum(crc(v) for v in values)
        elif kind == "int":
            self.sums[name] += repeat * int(sum(int(v) for v in values))
        else:
            self.sums[name] += repeat * math.fsum(float(v) for v in values)

    def to_json(self):
        return {"rows": self.rows,
                "cols": {c: [k, self.sums[c]] for c, k in self.columns.items()}}


def round6(x):
    """Spark's round(x, 6) on a double: HALF_UP on the decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def write_text(path, lines, gz):
    """Write delimited text, gzipped or not; return its uncompressed bytes."""
    data = ("\n".join(lines) + "\n").encode("utf-8")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if gz:
        # mtime=0: the same seed gives the same bytes
        with open(path, "wb") as raw, gzip.GzipFile(
                fileobj=raw, mode="wb", mtime=0, filename="") as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)
    return len(data)


def split_counts(rng, total, parts):
    """Split `total` rows into `parts` non-empty files, seeded."""
    w = rng.dirichlet(np.full(parts, 2.0))
    counts = np.maximum(1, np.floor(w * (total - parts)).astype(np.int64) + 1)
    counts[-1] += total - counts.sum()
    if counts[-1] < 1:  # pragma: no cover - dirichlet floor slack is tiny
        raise ValueError("bad split")
    return counts.tolist()


# ------------------------------------------------------------ lineitem

def lineitem(rng, n):
    """Columns of a TPC-H-shaped lineitem with n rows (numpy arrays)."""
    lines = rng.integers(1, 8, size=n)  # 1..7 lines per order
    ends = np.cumsum(lines)
    orders = int(np.searchsorted(ends, n)) + 1
    orderkey = np.repeat(np.arange(orders, dtype=np.int64), lines[:orders])[:n]
    starts = np.concatenate(([0], ends[:orders - 1]))
    linenumber = (np.arange(n) - np.repeat(starts, lines[:orders])[:n] + 1)
    parts = max(50, n // 30)
    supps = max(10, n // 600)
    qty = rng.integers(1, 51, size=n)
    price_cents = qty * rng.integers(90_000, 200_000, size=n) // 100
    return {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, parts, size=n, dtype=np.int64),
        "l_suppkey": rng.integers(0, supps, size=n, dtype=np.int64),
        "l_linenumber": linenumber.astype(np.int64),
        "l_quantity": qty.astype(np.int64),
        "l_extendedprice_cents": price_cents.astype(np.int64),
        "l_discount_cents": rng.integers(0, 11, size=n, dtype=np.int64),
        "l_tax_cents": rng.integers(0, 9, size=n, dtype=np.int64),
        "l_commitdays": rng.integers(-60, 61, size=n, dtype=np.int64),
        "l_receiptdays": rng.integers(1, 31, size=n, dtype=np.int64),
        "l_returnflag": rng.choice(np.array(list("ANR")), size=n),
        "l_linestatus": rng.choice(np.array(list("OF")), size=n),
        "l_shipday": rng.integers(0, 2500, size=n),
    }


def cents(a):
    """Integer cents as 2-decimal text."""
    return [f"{v // 100}.{v % 100:02d}" for v in a.tolist()]


def gen_ingest_wide(rng, sc, root):
    n = sc["wide_rows"]
    li = lineitem(rng, n)
    day0 = np.datetime64("1992-01-01")
    ship = (day0 + li["l_shipday"].astype("timedelta64[D]")).astype(str)
    cols = [li["l_orderkey"].astype(str), li["l_partkey"].astype(str),
            li["l_suppkey"].astype(str), li["l_linenumber"].astype(str),
            li["l_quantity"].astype(str), cents(li["l_extendedprice_cents"]),
            cents(li["l_discount_cents"]), cents(li["l_tax_cents"]),
            li["l_commitdays"].astype(str), li["l_receiptdays"].astype(str),
            li["l_returnflag"], li["l_linestatus"], ship]
    header = ("l_orderkey\tl_partkey\tl_suppkey\tl_linenumber\tl_quantity\t"
              "l_extendedprice\tl_discount\tl_tax\tl_commitdays\t"
              "l_receiptdays\tl_returnflag\tl_linestatus\tl_shipdate")
    rows = ["\t".join(r) for r in zip(*[list(c) for c in cols])]
    # equal parts: with a seeded uneven split, the largest part would set
    # the pass time and move it from seed to seed
    parts = sc["wide_parts"]
    counts = [n // parts + (i < n % parts) for i in range(parts)]
    files, at, text_bytes = [], 0, 0
    for i, c in enumerate(counts):
        rel = f"data/lineitem/part-{i:03d}.tsv"
        text_bytes += write_text(os.path.join(root, rel),
                                 [header] + rows[at:at + c], False)
        files.append(rel)
        at += c

    # every input row becomes one output row per melted column
    out = Checksum({"l_orderkey": "int", "l_partkey": "int",
                    "variable": "str", "value": "float"})
    out.rows = n * len(WIDE_MELT)
    for c in WIDE_IDS:
        out.add_column(c, li[c], repeat=len(WIDE_MELT))
    out.sums["variable"] = n * sum(crc(c) for c in WIDE_MELT)
    value_sum = 0
    for c in WIDE_MELT:
        if c in ("l_extendedprice", "l_discount", "l_tax"):
            value_sum += int(li[c + "_cents"].sum())
        else:
            value_sum += 100 * int(li[c].sum())
    out.sums["value"] = value_sum / 100.0
    manifest = {"source": "data/lineitem/*.tsv",
                "target": "lineitem_long.parquet",
                "ids": WIDE_IDS, "melt": WIDE_MELT,
                "key": "variable", "value": "value"}
    return {"files": files, "manifest": manifest, "rows_in": n,
            "text_bytes": text_bytes,
            "melt_rows_in": n,
            "expected": {"lineitem_long.parquet": out.to_json()}}


# ------------------------------------------------------- manifest_many

def gen_manifest_many(rng, sc, root):
    """A pipeline-output tree: three [token] groups and three standard files."""
    samples = [f"S{i:03d}" for i in range(sc["mm_samples"])]
    lanes = [f"L{i}" for i in range(1, sc["mm_lanes"] + 1)]
    chroms = [f"chr{i}" for i in range(1, sc["mm_chroms"] + 1)]
    genes = [f"G{i:05d}" for i in range(sc["mm_genes"])]
    gene_names = {g: f"gn{int(g[1:]) * 7919 % 100000:05d}x" for g in genes}

    # six units get a separator and a gzip choice each; the seed deals
    # them, and each choice appears at least twice
    units = ["expr", "qc", "variants", "samples", "genes", "summary"]
    seps = dict(zip(units, rng.permutation(["\t", "\t", "\t", ",", ",", ","])))
    gzs = dict(zip(units, rng.permutation([True, True, False, False,
                                           False, True])))

    def ext(unit):
        return (".tsv" if seps[unit] == "\t" else ".csv") + (
            ".gz" if gzs[unit] else "")

    files, expected, in_rows, text_bytes = [], {}, 0, [0]

    def emit(unit, rel, header, rows):
        sep = seps[unit]
        text_bytes[0] += write_text(
            os.path.join(root, rel),
            [sep.join(header)] + [sep.join(map(str, r)) for r in rows],
            gzs[unit])
        files.append(rel)

    # expr: data/expr/[sample]/[lane]/counts.<ext>, melted on 4 channels
    channels = ["count_a", "count_b", "count_c", "count_d"]
    dirs = [(s, l) for s in samples for l in lanes]
    per = split_counts(rng, sc["mm_expr_rows"], len(dirs))
    ck = Checksum({"gene_id": "str", "gene_name": "str", "sample": "str",
                   "lane": "str", "channel": "str", "count": "float"})
    for (s, l), n in zip(dirs, per):
        gs = rng.choice(genes, size=n)
        vals = rng.integers(0, 5000, size=(n, 4))
        emit("expr", f"data/expr/{s}/{l}/counts{ext('expr')}",
             ["gene_id", "gene_name"] + channels,
             [[g, gene_names[g]] + v for g, v in zip(gs.tolist(),
                                                    vals.tolist())])
        ck.rows += 4 * n
        ck.add_column("gene_id", gs.tolist(), 4)
        ck.add_column("gene_name", [gene_names[g] for g in gs.tolist()], 4)
        ck.sums["sample"] += 4 * n * crc(s)
        ck.sums["lane"] += 4 * n * crc(l)
        ck.sums["count"] += float(vals.sum())
        in_rows += n
    ck.sums["channel"] = sc["mm_expr_rows"] * sum(crc(c) for c in channels)
    expected["counts.parquet"] = ck.to_json()
    melt_rows_in = sc["mm_expr_rows"]

    # qc: data/qc/[sample]/metrics.<ext>
    metrics = ["reads", "mapped", "dup_rate", "gc_pct", "insert", "q30"]
    per = split_counts(rng, sc["mm_qc_rows"], len(samples))
    ck = Checksum({"metric": "str", "value": "float", "sample": "str"})
    for s, n in zip(samples, per):
        ms = rng.choice(metrics, size=n).tolist()
        vc = rng.integers(0, 10_000_000, size=n).tolist()
        emit("qc", f"data/qc/{s}/metrics{ext('qc')}", ["metric", "value"],
             [[m, f"{v // 100}.{v % 100:02d}"] for m, v in zip(ms, vc)])
        ck.rows += n
        ck.add_column("metric", ms)
        ck.sums["value"] += sum(vc) / 100.0
        ck.sums["sample"] += n * crc(s)
        in_rows += n
    expected["metrics.parquet"] = ck.to_json()

    # variants: data/variants/[chrom]/[sample]/calls.<ext>
    vdirs = [(c, s) for c in chroms for s in samples]
    per = split_counts(rng, sc["mm_var_rows"], len(vdirs))
    ck = Checksum({"pos": "int", "ref": "str", "alt": "str", "qual": "float",
                   "depth": "int", "chrom": "str", "sample": "str"})
    for (c, s), n in zip(vdirs, per):
        pos = rng.integers(1, 2_000_000_000, size=n).tolist()
        ref = rng.choice(list("ACGT"), size=n).tolist()
        alt = rng.choice(list("ACGT"), size=n).tolist()
        qual = rng.integers(0, 100_000, size=n).tolist()
        depth = rng.integers(1, 500, size=n).tolist()
        emit("variants", f"data/variants/{c}/{s}/calls{ext('variants')}",
             ["pos", "ref", "alt", "qual", "depth"],
             [[p, r, a, f"{q // 100}.{q % 100:02d}", d]
              for p, r, a, q, d in zip(pos, ref, alt, qual, depth)])
        ck.rows += n
        ck.add_column("pos", pos)
        ck.add_column("ref", ref)
        ck.add_column("alt", alt)
        ck.sums["qual"] += sum(qual) / 100.0
        ck.add_column("depth", depth)
        ck.sums["chrom"] += n * crc(c)
        ck.sums["sample"] += n * crc(s)
        in_rows += n
    expected["calls.parquet"] = ck.to_json()

    # three standard files
    tissues = ["liver", "lung", "brain", "blood", "skin"]
    rows = [[s, rng.choice(tissues), int(rng.integers(18, 90))]
            for s in samples]
    emit("samples", f"data/samples{ext('samples')}",
         ["sample_id", "tissue", "age"], rows)
    ck = Checksum({"sample_id": "str", "tissue": "str", "age": "int"})
    ck.rows = len(rows)
    ck.add_column("sample_id", [r[0] for r in rows])
    ck.add_column("tissue", [r[1] for r in rows])
    ck.add_column("age", [r[2] for r in rows])
    expected["samples.parquet"] = ck.to_json()

    lengths = rng.integers(200, 200_000, size=len(genes)).tolist()
    emit("genes", f"data/genes{ext('genes')}",
         ["gene_id", "gene_name", "length"],
         [[g, gene_names[g], n] for g, n in zip(genes, lengths)])
    ck = Checksum({"gene_id": "str", "gene_name": "str", "length": "int"})
    ck.rows = len(genes)
    ck.add_column("gene_id", genes)
    ck.add_column("gene_name", [gene_names[g] for g in genes])
    ck.add_column("length", lengths)
    expected["genes.parquet"] = ck.to_json()

    stats = ["n_samples", "n_lanes", "n_genes", "n_chroms"]
    svals = [len(samples), len(lanes), len(genes), len(chroms)]
    emit("summary", f"data/summary{ext('summary')}", ["stat", "n"],
         [[k, v] for k, v in zip(stats, svals)])
    ck = Checksum({"stat": "str", "n": "int"})
    ck.rows = len(stats)
    ck.add_column("stat", stats)
    ck.add_column("n", svals)
    expected["summary.parquet"] = ck.to_json()
    in_rows += len(rows) + len(genes) + len(stats)

    annotate_config = {
        "variable_files": [
            {"pattern": f"data/expr/[sample]/[lane]/counts{ext('expr')}",
             "name": "counts", "tokens": [{"token": "[sample]"},
                                          {"token": "[lane]"}]},
            {"pattern": f"data/qc/[sample]/metrics{ext('qc')}",
             "name": "qc metrics", "tokens": [{"token": "[sample]"}]},
            {"pattern": f"data/variants/[chrom]/[sample]/calls{ext('variants')}",
             "name": "variant calls", "tokens": [{"token": "[chrom]"},
                                                 {"token": "[sample]"}]},
        ],
        "variable_columns": [
            {"columns": channels, "name": "channel", "value_name": "count"},
        ],
    }
    catalog = [
        {"col": "gene_id", "name": "Gene ID", "desc": "stable gene identifier"},
        {"col": "sample_id", "name": "Sample", "desc": "sample identifier"},
        {"col": "pos", "name": "Position", "desc": "1-based position"},
        {"col": "qual", "name": "Quality", "desc": "call quality"},
        {"col": "metric", "name": "Metric", "desc": "qc metric name"},
    ]
    return {"files": files, "annotate_config": annotate_config,
            "catalog": catalog, "rows_in": in_rows,
            "text_bytes": text_bytes[0],
            "melt_rows_in": melt_rows_in, "commands": len(expected),
            "expected": expected}


# --------------------------------------------------------- query_panel

def tokens(text):
    import re
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def near_dup_corpus(docs):
    """documents UNION the doc_id % 10 == 0 twins minus their last 2 tokens."""
    out = list(docs)
    for d, text in docs:
        if d % 10 == 0:
            t = tokens(text)
            out.append((d + 1_000_000, " ".join(t[:max(len(t) - 2, 1)])))
    return out


def jaccard_pairs(corpus, threshold=0.8):
    """All pairs with 3-shingle jaccard >= threshold (prefix-filtered, exact)."""
    sets = {}
    for d, text in corpus:
        t = tokens(text)
        sets[d] = {" ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 1))}
    freq = Counter(s for sh in sets.values() for s in sh)
    index = defaultdict(list)
    cands = set()
    for d in sorted(sets):
        sh = sorted(sets[d], key=lambda s: (freq[s], s))
        prefix = len(sh) - math.ceil(threshold * len(sh)) + 1
        for s in sh[:prefix]:
            for o in index[s]:
                cands.add((o, d))
            index[s].append(d)
    ck = Checksum({"id_a": "int", "id_b": "int", "jaccard": "float"})
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            ck.rows += 1
            ck.sums["id_a"] += min(a, b)
            ck.sums["id_b"] += max(a, b)
            ck.sums["jaccard"] += round6(j)
    return ck.to_json()


def pagerank(li, iterations=3, scale=1_000_000_000_000):
    src = li["l_suppkey"]
    dst = li["l_partkey"] + 1_000_000
    e = np.unique(np.concatenate([np.stack([src, dst], 1),
                                  np.stack([dst, src], 1)]), axis=0)
    nodes, inv = np.unique(e.ravel(), return_inverse=True)
    s_idx, d_idx = inv.reshape(-1, 2).T
    n = len(nodes)
    outdeg = np.bincount(s_idx, minlength=n).astype(np.int64)
    base = 15 * scale // 100 // n
    rank = np.full(n, scale // n, dtype=np.int64)
    for _ in range(iterations):
        contrib = rank[s_idx] // outdeg[s_idx]
        s = np.zeros(n, dtype=np.int64)
        np.add.at(s, d_idx, contrib)
        rank = base + 85 * s // 100
    ck = Checksum({"node": "int", "rank": "int"})
    ck.rows = n
    ck.sums["node"] = int(nodes.sum())
    ck.sums["rank"] = int(rank.sum())
    return ck.to_json()


def item_cf(li, k=5):
    pairs = sorted(set(zip(li["l_orderkey"].tolist(), li["l_partkey"].tolist())))
    baskets = defaultdict(list)
    for bk, item in pairs:
        baskets[bk].append(item)
    ci = Counter(item for _, item in pairs)
    co = Counter()
    for items in baskets.values():
        items.sort()
        for x in range(len(items)):
            for y in range(x + 1, len(items)):
                co[(items[x], items[y])] += 1
    nbrs = defaultdict(list)
    for (i, j), c in co.items():
        sim = round6(float(c) / math.sqrt(float(ci[i] * ci[j])))
        nbrs[i].append((-sim, j, c))
        nbrs[j].append((-sim, i, c))
    ck = Checksum({"item": "int", "rank": "int", "neighbor": "int",
                   "co": "int", "sim": "float"})
    for item, lst in nbrs.items():
        lst.sort()
        for r, (neg, j, c) in enumerate(lst[:k], start=1):
            ck.rows += 1
            ck.sums["item"] += item
            ck.sums["rank"] += r
            ck.sums["neighbor"] += j
            ck.sums["co"] += c
            ck.sums["sim"] += -neg
    return ck.to_json()


def gen_query_panel(rng, sc, root):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_docs = sc["docs"]
    lens = rng.integers(10, 91, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    docs, at = [], 0
    for d, ln in enumerate(lens.tolist()):
        docs.append((d, " ".join(VOCAB[w] for w in words[at:at + ln])))
        at += ln
    langs = rng.choice(["en", "fr", "de", "zh"], size=n_docs).tolist()
    sources = [f"src{i % 10}" for i in range(n_docs)]
    tables = os.path.join(root, "tables")
    os.makedirs(tables, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": [t for _, t in docs], "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for _, t in docs], pa.int64())}),
        os.path.join(tables, "documents.parquet"))
    li = lineitem(rng, sc["panel_rows"])
    pq.write_table(pa.table({c: li[c] for c in
                             ["l_orderkey", "l_partkey", "l_suppkey",
                              "l_linenumber", "l_quantity"]}),
                   os.path.join(tables, "lineitem.parquet"))

    expected = {"q445_oph_neardup": jaccard_pairs(near_dup_corpus(docs)),
                "q77_pagerank": pagerank(li),
                "q255_item_cf": item_cf(li)}
    return {"files": ["tables/documents.parquet", "tables/lineitem.parquet"],
            "query_tables": PANEL_TABLES,
            "rows_in": n_docs + sc["panel_rows"], "melt_rows_in": 0,
            "expected": expected}


GENERATORS = {"ingest_wide": gen_ingest_wide,
              "manifest_many": gen_manifest_many,
              "query_panel": gen_query_panel}


def make_inputs(workload, seed, scale, root):
    """Write the inputs for one run under `root`; return their metadata."""
    # one stream per workload, so a workload's inputs do not depend on
    # which other workloads exist
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    meta = GENERATORS[workload](rng, SCALES[scale], root)
    meta["workload"] = workload
    # every workload reports the panel's per-query metrics (0 off the panel)
    meta["queries"] = PANEL
    meta["seed"] = seed
    meta["scale"] = scale
    meta["file_bytes"] = {f: os.path.getsize(os.path.join(root, f))
                          for f in meta["files"]}
    meta["input_bytes"] = sum(meta["file_bytes"].values())
    if workload == "query_panel":
        per_table = {}
        for f, b in meta["file_bytes"].items():
            per_table[os.path.basename(f).split(".")[0]] = b
        # one pass scans each query's tables once
        meta["pass_input_bytes"] = sum(per_table[t] for q in PANEL
                                       for t in PANEL_TABLES[q])
    else:
        # uncompressed, so gzip choices do not move the figure
        meta["pass_input_bytes"] = meta["text_bytes"]
    with open(os.path.join(root, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta
