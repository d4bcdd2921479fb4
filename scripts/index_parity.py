"""Index-artifact parity matrix: dump the canonical rows and top-k
answers of 19 index handles written by one source tree, then diff two
dumps.

    PYTHONPATH=<tree> python scripts/index_parity.py dump OUT.json [--work DIR]
    python scripts/index_parity.py diff A.json B.json

``dump`` imports ``neural_cherche_spark`` from whatever tree is first on
``PYTHONPATH``, so two trees (say, a commit and its parent) dump the
same cases with their own writers. The cases, all over one 300-doc
synthetic corpus at 4 buckets and ``salt_every=50`` (head terms salt):

* ``build_index`` for {weights, raw} × {bm25, tfidf}, ids from a column;
* ``build_index`` with url-assigned ids (weights, bm25);
* weights ``materialize`` of two batches with one delete, bm25 and tfidf;
* per weighting (bm25, tfidf), a raw stream: add → add + delete →
  add with ``freeze_stats`` → ``compact``, each step dumped, plus a
  ``snapshot=0`` handle opened after the add + delete step;
* one-batch raw refreshes of the whole corpus, bm25 and tfidf.

Canonical rows: postings blocks sorted by (seg, bucket, term_id, salt,
block_id) without the ``enc_ms`` timing column, binaries as hex; the
termdict by term; the live docmap as (doc_id, url, dl) (its ``seg``
partition column is layout, not content); docnorm; tombstones; lineage
without ``enc_ms``; the manifest without stage walls, timestamps or the
snapshot id; ``topk``, the top-k rows of the fixed ``QUERIES`` through
``search()`` and ``serve.LocalSearcher`` (``search()`` only for
tfidf + raw, which LocalSearcher refuses), scores as ``float.hex``.
Input fingerprints are resume keys, not index content: they are dumped
under ``provenance`` and ``diff`` lists them apart.

``diff`` compares termdict floats to 1e-12 relative (``term_norm`` is
an f64 sum whose order follows the input's file layout) and every
other value exactly — top-k scores bit for bit, so raw bm25 scores,
which divide by ``term_norm`` at query time, can differ in the last
bits wherever ``term_norm`` does; it exits 1 when any content differs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile

N_DOCS = 300
KW = dict(n_buckets=4, salt_every=50)
DELETED = [3, 17, 150, 151, 199]
# head words (negative idf on this corpus) mixed with tail words
QUERIES = [
    "the search term120", "world news term45 term900", "music",
    "term3 term3 of", "cinema food sports", "term2500 health",
    "page home about contact", "term77 term78 term79", "zzzz",
]
K = 10


def _rows(df, order: list[str]) -> list[dict]:
    out = []
    for r in df.collect():
        d = r.asDict()
        for k, v in d.items():
            if isinstance(v, (bytes, bytearray)):
                d[k] = bytes(v).hex()
        out.append(d)
    return sorted(out, key=lambda d: tuple(d[c] for c in order))


def _topk(idx) -> list[dict]:
    """Top-K rows of QUERIES through ``search()`` and LocalSearcher."""
    from neural_cherche_spark.serve import LocalSearcher

    rows = [
        {"via": "search", "query_id": r["query_id"], "doc_id": r["doc_id"],
         "score": float(r["score"]).hex(), "rank": r["rank"]}
        for r in idx.search(QUERIES, k=K).collect()
    ]
    cfg = idx.manifest.cfg
    if (cfg.get("storage"), cfg.get("weighting")) != ("raw", "tfidf"):
        for qid, res in enumerate(LocalSearcher.from_index(idx).search(QUERIES, k=K)):
            rows += [
                {"via": "local", "query_id": qid, "doc_id": x["doc_id"],
                 "score": x["score"].hex(), "rank": x["rank"]}
                for x in res
            ]
    return sorted(rows, key=lambda d: (d["via"], d["query_id"], d["rank"]))


def _canonical(idx) -> dict:
    from pyspark.sql import functions as F

    m = dict(idx.manifest.__dict__)
    prov = {"manifest": m.pop("input_fingerprint")}
    for k in ("created_unix", "snapshot_id"):
        m.pop(k)
    m["stages"] = sorted(m["stages"])
    blocks = idx.postings.drop("enc_ms")
    if "seg" not in blocks.columns:
        blocks = blocks.withColumn("seg", F.lit(-1))
    lineage = idx.lineage.drop("enc_ms")
    if "seg" not in lineage.columns:
        lineage = lineage.withColumn("seg", F.lit(-1))
    prov["lineage"] = sorted(
        {r[0] for r in lineage.select("input_fingerprint").collect()}
    )
    out = {
        "manifest": m,
        "blocks": _rows(
            blocks, ["seg", "bucket", "term_id", "salt", "block_id"]
        ),
        "termdict": _rows(idx.termdict, ["term"]),
        "docmap": _rows(idx.docmap.select("doc_id", "url", "dl"), ["doc_id"]),
        "lineage": _rows(lineage.drop("input_fingerprint"), ["seg", "bucket"]),
        "topk": _topk(idx),
        "provenance": prov,
    }
    if m.get("docnorm_path"):
        out["docnorm"] = _rows(idx.docnorm, ["doc_id"])
    if idx.tombstones is not None:
        out["tombstones"] = _rows(idx.tombstones, ["doc_id"])
    return out


def dump(out_path: str, work: str) -> None:
    from pyspark.sql import functions as F

    from neural_cherche_spark.data import synth_webtext
    from neural_cherche_spark.index.builder import BM25Index, build_index
    from neural_cherche_spark.session import get_spark
    from neural_cherche_spark.streaming import CompressedIndexStream

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    rows = sorted(
        synth_webtext(spark, N_DOCS, seed=11).select("url", "text").collect(),
        key=lambda r: r["url"],
    )
    corpus = spark.createDataFrame(
        [(i, r["url"], r["text"]) for i, r in enumerate(rows)],
        "doc_id long, url string, text string",
    )
    parts = [
        corpus.filter(F.col("doc_id") < 120),
        corpus.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 220)),
        corpus.filter(F.col("doc_id") >= 220),
    ]
    cases: dict[str, dict] = {}

    def keep(name: str, idx) -> None:
        cases[name] = _canonical(idx)
        idx.close()
        print(f"dumped {name}", file=sys.stderr)

    for storage in ("weights", "raw"):
        for w in ("bm25", "tfidf"):
            keep(
                f"build-{storage}-{w}",
                build_index(
                    spark, corpus, os.path.join(work, f"b-{storage}-{w}"),
                    id_col="doc_id", storage=storage, weighting=w, **KW,
                ),
            )
    keep(
        "build-url-ids",
        build_index(
            spark, corpus.select("url", "text"), os.path.join(work, "b-url"),
            **KW,
        ),
    )
    for w in ("bm25", "tfidf"):
        s = CompressedIndexStream(spark, os.path.join(work, f"sw-{w}"))
        s.add_batch(parts[0], epoch_id=0).add_batch(parts[1], epoch_id=1)
        s.delete_batch(DELETED, epoch_id=0)
        keep(
            f"materialize-weights-delete-{w}",
            s.materialize(os.path.join(work, f"w-{w}"), weighting=w, **KW),
        )
    for w in ("bm25", "tfidf"):
        s = CompressedIndexStream(spark, os.path.join(work, f"sr-{w}"))
        d = os.path.join(work, f"r-{w}")
        raw = dict(storage="raw", weighting=w, **KW)
        s.add_batch(parts[0], epoch_id=0)
        keep(f"raw-{w}-add", s.materialize(d, **raw))
        s.add_batch(parts[1], epoch_id=1).delete_batch(DELETED, epoch_id=0)
        keep(f"raw-{w}-add-delete", s.materialize(d, **raw))
        keep(f"raw-{w}-snapshot0", BM25Index(spark, d, snapshot=0))
        s.add_batch(parts[2], epoch_id=2)
        keep(f"raw-{w}-freeze", s.materialize(d, freeze_stats=True, **raw))
        keep(f"raw-{w}-compact", s.compact(d, weighting=w, **KW))
    for w in ("bm25", "tfidf"):
        s = CompressedIndexStream(spark, os.path.join(work, f"s1-{w}"))
        s.add_batch(corpus, epoch_id=0)
        keep(
            f"raw-one-batch-{w}",
            s.materialize(
                os.path.join(work, f"one-{w}"), storage="raw", weighting=w,
                **KW,
            ),
        )
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(cases, f)
    print(f"{len(cases)} cases -> {out_path}", file=sys.stderr)


def _same(a, b, rel: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=rel)
    return a == b


def _diff_rows(table: str, a: list, b: list) -> str | None:
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} rows"
    rel = 1e-12 if table == "termdict" else 0.0
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra.keys() != rb.keys():
            return f"columns {sorted(ra)} != {sorted(rb)}"
        bad = [k for k in ra if not _same(ra[k], rb[k], rel)]
        if bad:
            return f"row {i}: {bad} differ: {ra} != {rb}"
    return None


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    bad = 0
    for case in sorted(set(a) | set(b)):
        if case not in a or case not in b:
            print(f"{case}: only in {'A' if case in a else 'B'}")
            bad += 1
            continue
        ca, cb = a[case], b[case]
        problems = []
        for table in sorted((set(ca) | set(cb)) - {"provenance"}):
            if table not in ca or table not in cb:
                problems.append(f"{table}: only in {'A' if table in ca else 'B'}")
            elif table == "manifest":
                keys = sorted(
                    k for k in set(ca[table]) | set(cb[table])
                    if ca[table].get(k) != cb[table].get(k)
                )
                if keys:
                    problems.append(
                        "manifest: "
                        + ", ".join(
                            f"{k} {ca[table].get(k)!r} != {cb[table].get(k)!r}"
                            for k in keys
                        )
                    )
            else:
                p = _diff_rows(table, ca[table], cb[table])
                if p:
                    problems.append(f"{table}: {p}")
        note = (
            "" if ca["provenance"] == cb["provenance"]
            else f"  [fingerprints differ: {ca['provenance']} vs {cb['provenance']}]"
        )
        if problems:
            bad += 1
            print(f"{case}: DIFFERENT{note}")
            for p in problems:
                print(f"  {p[:400]}")
        else:
            print(f"{case}: equal{note}")
    print(f"{len(set(a) | set(b)) - bad} equal, {bad} different")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump", help="build the 19 cases and dump their rows")
    d.add_argument("out")
    d.add_argument("--work", default=None, help="index dir (default: a temp dir)")
    f = sub.add_parser("diff", help="compare two dumps")
    f.add_argument("a")
    f.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "diff":
        return diff(args.a, args.b)
    work = args.work or tempfile.mkdtemp(prefix="index_parity_")
    try:
        dump(args.out, work)
    finally:
        if args.work is None:
            shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
