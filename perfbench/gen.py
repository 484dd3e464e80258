"""Seeded input generator for the perfbench workloads.

Every input a workload feeds the engine is made here from ``--seed``
alone, so two runs with the same seed see byte-identical inputs (the
``digest`` recorded with each run proves it). Nothing here touches
Spark; generation runs before set-up and outside the timed phase.

- ``star``: the TPC-H-ish fixture tables the declared queries read
  (region … lineitem, events, documents, embeddings), with the schemas
  and value domains of FIXTURES.md §1, at a chosen scale factor.
- ``corpus``: the corpus_prep corpus — base documents plus planted
  exact copies and near-duplicates at a known 3-shingle Jaccard, and
  embeddings plus planted near-duplicate vectors at a known cosine.
- ``landing``: the ingest_serve batches — gzipped NDJSON per
  FIXTURES.md §2.1 (projects × report types), with injected malformed
  lines, late corrections to earlier event ids and user erasures.

Usage: ``python3 perfbench/gen.py <workload> --seed N --out DIR`` writes
the inputs of one workload under ``DIR/inputs/``.
"""

from __future__ import annotations

import argparse
import collections
import gzip
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the query row stream spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan slow agg key "
    "window table merge vector join"
).split()
EMB_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

PROJECTS = ["67a658d0-hammer-jump", "8c1f22e4-tower-dash"]
REPORT_TYPES = ["appStart", "custom", "transaction"]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _docs_text(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)[words]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[pos : pos + ln]))
        pos += ln
    return out


def _unit_rows(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def gen_star(seed: int, out: str, sf: float) -> dict:
    """The ten fixture tables at scale ``sf`` (sf=1 ≈ 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(20_000 * sf), max(10, int(15_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}), f"{out}/region.parquet")
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{out}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
            }
        ),
        f"{out}/customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        f"{out}/supplier.parquet",
    )
    adj = np.array(P_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.array(P_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": adj + " " + noun,
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(P_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
            }
        ),
        f"{out}/part.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2405, n_ord) * DAY_US),
                "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
            }
        ),
        f"{out}/orders.parquet",
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
                "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2499, n_line) * DAY_US),
            }
        ),
        f"{out}/lineitem.parquet",
    )
    pq.write_table(_events_table(rng, np.arange(n_ev), n_user, 30), f"{out}/events.parquet")
    texts = _docs_text(rng, n_doc)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_doc), pa.int64()),
                "text": texts,
                "lang": rng.choice(np.array(LANGS, dtype=object), n_doc, p=LANG_P),
                "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{out}/documents.parquet",
    )
    vecs = (rng.standard_normal((n_emb, EMB_DIM)) * 0.125).astype(np.float32)
    pq.write_table(_emb_table(np.arange(n_emb), vecs, rng.integers(0, 10, n_emb)), f"{out}/embeddings.parquet")
    return {"sf": sf, "lineitem_rows": n_line, "digest": digest_dir(out)}


def _events_table(rng, ids: np.ndarray, n_user: int, days: int) -> pa.Table:
    n = len(ids)
    ts = EPOCH_2024_US + np.sort(rng.integers(0, days * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_user, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _perturb(rng: np.random.Generator, words: list[str], n_edit: int) -> list[str]:
    """Replace ``n_edit`` distinct word positions with a non-vocabulary
    token, so each edit breaks at most 3 of the document's 3-shingles."""
    w = list(words)
    for j, p in enumerate(rng.choice(len(w), n_edit, replace=False)):
        w[p] = f"edit{j}x{rng.integers(1 << 30)}"
    return w


def shingles3(text: str) -> set[str]:
    """Distinct word 3-shingles — the engine's ``with_shingles(n=3)``."""
    w = text.split(" ")
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles3(a), shingles3(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def gen_corpus(seed: int, out: str, n_docs: int, n_vecs: int) -> dict:
    """Corpus with planted duplicates. Base documents are long (40–80
    words) random draws, so unrelated pairs share almost no 3-shingles;
    each planted near-dup edits 2 word positions (3-shingle Jaccard
    0.75–0.86 to its origin), and each planted vector is its origin plus
    small noise (cosine ≈ 0.99). Ground truth lands in ``truth.json``."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n_exact, n_near = n_docs // 20, n_docs // 10
    n_base = n_docs - n_exact - n_near
    texts = _docs_text(rng, n_base, 40, 80)
    near_pairs = []
    for src in rng.choice(n_base, n_near, replace=False):
        near_pairs.append([int(src), len(texts)])
        texts.append(" ".join(_perturb(rng, texts[src].split(" "), 2)))
    for src in rng.choice(n_base, n_exact, replace=False):
        texts.append(texts[src])
    order = rng.permutation(len(texts))  # planted copies interleave with originals
    new_id = np.empty_like(order)
    new_id[order] = np.arange(len(order))
    texts = [texts[i] for i in order]
    near_pairs = sorted(sorted((int(new_id[a]), int(new_id[b]))) for a, b in near_pairs)
    near_pairs = [p for p in near_pairs if texts[p[0]] != texts[p[1]]]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
                "text": texts,
                "lang": rng.choice(np.array(LANGS, dtype=object), len(texts), p=LANG_P),
                "source": [f"src{s}" for s in rng.integers(0, 20, len(texts))],
            }
        ),
        f"{out}/docs.parquet",
    )
    # clustered vectors (real embedding corpora cluster; IVF recall
    # depends on it): unit centres plus noise, cosine ≈ 0.85 to the centre
    centres = _unit_rows(rng, max(8, n_vecs // 40))
    n_vdup = n_vecs // 10
    n_base = n_vecs - n_vdup
    base = centres[rng.integers(0, len(centres), n_base)] + rng.standard_normal((n_base, EMB_DIM)) * 0.08
    base = (base / np.linalg.norm(base, axis=1, keepdims=True)).astype(np.float32)
    src = rng.choice(n_base, n_vdup, replace=False)
    dup = base[src] + rng.standard_normal((n_vdup, EMB_DIM)).astype(np.float32) * 0.02
    vecs = np.concatenate([base, dup / np.linalg.norm(dup, axis=1, keepdims=True)])
    vec_pairs = [[int(a), n_base + i] for i, a in enumerate(src)]
    pq.write_table(
        _emb_table(np.arange(len(vecs)), vecs, rng.integers(0, 10, len(vecs))),
        f"{out}/vecs.parquet",
    )
    n_q = 64
    qv = base[rng.choice(n_base, n_q, replace=False)] + rng.standard_normal((n_q, EMB_DIM)) * 0.05
    np.save(f"{out}/queries.npy", (qv / np.linalg.norm(qv, axis=1, keepdims=True)).astype(np.float32))
    terms = [list(rng.choice(VOCAB, 3, replace=False)) for _ in range(n_q)]
    truth = {"near_pairs": near_pairs, "vec_pairs": vec_pairs, "bm25_terms": terms}
    with open(f"{out}/truth.json", "w") as fh:
        json.dump(truth, fh)
    return {"docs": len(texts), "vecs": len(vecs), "digest": digest_dir(out)}


def gen_landing(
    seed: int, out: str, n_batches: int, rows_per_batch: int, n_user: int = 400, n_erase: int = 20
) -> dict:
    """``n_batches`` landing batches, each spread over every project ×
    report-type directory. Per batch: 1% malformed lines, late
    corrections (full rows with a new ``value``) to well-formed events
    of earlier batches whose user was not erased, and, every other
    batch, ``n_erase`` user ids to erase (5% of users by default, so
    nearly every data file holds an erased row). ``plan.json`` lists per batch its
    files, corrections and erasures; ``truth.parquet`` holds every
    well-formed row with its batch, for the DuckDB oracle."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    plan, good, erased = [], [], set()
    n_dirs = len(PROJECTS) * len(REPORT_TYPES)
    for b in range(n_batches):
        ids = np.arange(b * rows_per_batch, (b + 1) * rows_per_batch)
        rows = _events_table(rng, ids, n_user, 1).to_pylist()
        bad_at = set(rng.choice(rows_per_batch, rows_per_batch // 100, replace=False).tolist())
        dirs = rng.integers(0, n_dirs, rows_per_batch)
        lines = collections.defaultdict(list)
        for i, row in enumerate(rows):
            row["ts"] = row["ts"].strftime("%Y-%m-%d %H:%M:%S.%f")
            if i in bad_at:
                lines[dirs[i]].append('{"event_id": %d, "ts": "broken' % row["event_id"])
                continue
            lines[dirs[i]].append(json.dumps(row))
            row["project_id"] = PROJECTS[dirs[i] // len(REPORT_TYPES)]
            row["report_type"] = REPORT_TYPES[dirs[i] % len(REPORT_TYPES)]
            row["batch"] = b
            good.append(row)
        files = []
        for d in sorted(lines):
            proj, rep = PROJECTS[d // len(REPORT_TYPES)], REPORT_TYPES[d % len(REPORT_TYPES)]
            rel = f"{proj}/{rep}/2024-01-{b % 28 + 1:02d}_{b}/part-0.json.gz"
            os.makedirs(os.path.dirname(f"{out}/{rel}"), exist_ok=True)
            with gzip.GzipFile(f"{out}/{rel}", "wb", mtime=0) as fh:
                fh.write(("\n".join(lines[d]) + "\n").encode())
            files.append(rel)
        older = [r for r in good if r["batch"] < b and r["user_id"] not in erased]
        corrections = []
        for i in sorted(rng.choice(len(older), min(len(older), rows_per_batch // 20), replace=False)):
            fix = {k: v for k, v in older[i].items() if k != "batch"}
            fix["value"] = float(np.round(rng.uniform(0, 500), 2))
            corrections.append(fix)
        erase = sorted(rng.choice(n_user, n_erase, replace=False).tolist()) if b % 2 == 1 else []
        erased.update(erase)
        plan.append(
            {"files": files, "malformed": len(bad_at), "corrections": corrections, "erase_users": erase}
        )
    with open(f"{out}/plan.json", "w") as fh:
        json.dump(plan, fh)
    pq.write_table(pa.Table.from_pylist(good), f"{out}/truth.parquet")
    return {"batches": n_batches, "rows": n_batches * rows_per_batch, "digest": digest_dir(out)}


def digest_dir(path: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dp, _dirs, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main() -> None:
    """Write one workload's inputs into ``--out`` exactly as a run of
    that workload with the same seed does."""
    import importlib
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.run import WORKLOADS

    ap = argparse.ArgumentParser(description="perfbench input generator")
    ap.add_argument("workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    mod, cls = WORKLOADS[args.workload]
    print(json.dumps(getattr(importlib.import_module(mod), cls)(args.seed, args.out).generate()))


if __name__ == "__main__":
    main()
