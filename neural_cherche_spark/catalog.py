"""Iceberg-shaped catalog over parquet directories.

No Iceberg runtime jar ships in this sandbox (no network), so the
index is stored as a directory of parquet tables plus a JSON manifest
that plays the role of an Iceberg snapshot: table locations, the
input fingerprint, per-stage walls. Swapping in real Iceberg
(``df.writeTo(...)``, ``MERGE INTO``) is a config change at the call
sites in index/builder.py — the layout below mirrors an Iceberg
table's data/metadata split on purpose (SURVEY §7 environment note).

Layout of one index:

    <index_dir>/
      manifest.json        — the committed snapshot: cfg, input
                             fingerprint, stats, stage walls, segment
                             list and the table revisions it reads
      manifest-NNNNN.json  — every committed snapshot (time travel)
      next_snapshot_id     — after a rewrite: the first unused id
      tf/                  — build_index only: (doc_id, term, tf)
      docmap/              — (doc_id, url, dl); raw: seg=K/ per segment
      termdict/            — (term, tf_total, df, idf, term_norm,
                             n_salts, term_id); a refresh writes
                             termdict_rK/
      docnorm/             — tfidf + raw only: (doc_id, dnorm);
                             refreshes write docnorm_rK/
      tombstones_rK/       — raw refreshes with deletions: (doc_id),
                             partitioned by seg
      postings/            — compressed blocks (index/codec.py):
                             weights bucket=*/, raw seg=K/bucket=*/
      lineage/             — per-bucket build metrics (raw: seg=K/)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field

# On-disk layout versions:
#   1 — round-1 salt layout (xxhash64(doc_id) % n_salts, free-form
#       n_salts). The query side never re-derives a doc's salt, so v1
#       indexes are searched like any other.
#   2 — codec.doc_salt salt function, power-of-two n_salts.
#   3 — v2 plus segmented postings (postings/seg=*/bucket=*) and the
#       optional "raw" storage mode (per-posting tf+dl, query-time
#       weights) for O(new-batch) incremental refresh.
MANIFEST_VERSION = 3

# table dirs an index writes (revision dirs carry an _rK suffix)
TABLE_PREFIXES = (
    "tf", "docmap", "termdict", "docnorm", "postings", "lineage", "tombstones",
)


@dataclass
class Manifest:
    """Snapshot metadata for one built index."""

    version: int = MANIFEST_VERSION
    cfg: dict = field(default_factory=dict)
    input_fingerprint: str = ""
    n_docs: int = 0
    avgdl: float = 0.0
    n_terms: int = 0
    n_postings: int = 0
    n_buckets: int = 0
    stages: dict = field(default_factory=dict)  # stage -> {"done": ..., "wall_s": ...}
    created_unix: float = 0.0
    # segmented (raw-storage) layout: one entry per postings/seg=K dir;
    # delta materialization appends entries without touching old ones
    segments: list = field(default_factory=list)
    # monotonically increasing snapshot id; every save_manifest also
    # writes manifest-{id}.json so DELTA refreshes leave a queryable
    # history (segments are immutable and termdict/docnorm revisions
    # are retained — Iceberg-style time travel). Rewrite operations
    # (compact(), resume=False, storage='weights' rebuilds) replace
    # the underlying dirs and therefore EXPIRE earlier snapshots.
    snapshot_id: int = 0
    # current termdict snapshot table name — delta refreshes write a
    # NEW revision dir (termdict_r{K}) and flip this pointer atomically
    # with the manifest save (can't overwrite a parquet dir in place
    # while deriving the new snapshot from it)
    termdict_path: str = "termdict"
    # True when the last raw delta refresh ran with freeze_stats: old
    # terms kept their previous idf/term_norm (the reference add()'s
    # stale-statistics trade) — scores are approximate until the next
    # exact refresh or compact()
    stats_frozen: bool = False
    # logically-deleted doc ids (raw storage only; "" = none). Postings
    # for these docs still sit in immutable segments — every query path
    # masks them; compact() drops them physically and clears this.
    tombstones_path: str = ""
    # delete-ledger batches already reflected in this snapshot (so a
    # refresh with only new DELETES — no new doc batches — is not
    # skipped as a no-op)
    applied_delete_batches: int = 0
    # doc batches covered by this snapshot WITHOUT a postings segment
    # (all-empty micro-batches, or batches whose every doc was
    # tombstoned before the refresh): a segment entry with no seg dir
    # would poison the snapshot validator (ADVICE r4), so coverage for
    # postings-less batches is recorded here instead
    covered_batches: list = field(default_factory=list)
    # per-doc L2 norm table (tfidf + raw storage only; "" = none).
    # Same revision discipline as termdict_path: every refresh rewrites
    # the norms (idf moved ⇒ every doc norm moved) into a fresh dir and
    # the manifest flip publishes it.
    docnorm_path: str = ""
    # tfidf + raw block-max soundness metadata: {str(seg): [lo, hi]}
    # bounding dnorm_current(d) / dnorm_at_encode(d) over the live docs
    # of each segment. Blocks of a tfidf raw segment carry the
    # FLOOR-QUANTIZED encode-time docnorm in their dls stream (see
    # codec.DNORM_SCALE), so block-max WAND bounds stay sound across
    # refreshes by scaling with these drift factors: a fresh segment
    # starts at [1, 1] (exact); each non-frozen refresh multiplies in
    # the global min/max of dnorm_new/dnorm_prev (one O(n_docs)
    # scalar-join job). Segments WITHOUT an entry (pre-quantization
    # layout) are uncovered — the query router keeps the whole index on
    # the bulk path, never trusting their dls stream as a norm.
    dnorm_gammas: dict = field(default_factory=dict)


class IndexCatalog:
    """Path resolution + manifest persistence for one index dir."""

    def __init__(self, index_dir: str) -> None:
        self.index_dir = index_dir

    def path(self, table: str) -> str:
        return os.path.join(self.index_dir, table)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.index_dir, "manifest.json")

    def load_manifest(self, snapshot: int | None = None) -> Manifest | None:
        p = (
            self.manifest_path
            if snapshot is None
            else os.path.join(self.index_dir, f"manifest-{snapshot:05d}.json")
        )
        if not os.path.exists(p):
            if snapshot is not None:
                raise FileNotFoundError(
                    f"no snapshot {snapshot} at {self.index_dir} "
                    f"(available: {self.snapshots()})"
                )
            return None
        with open(p) as f:
            return Manifest(**json.load(f))

    def snapshots(self) -> list[int]:
        if not os.path.isdir(self.index_dir):
            return []
        out = []
        for f in os.listdir(self.index_dir):
            if f.startswith("manifest-") and f.endswith(".json"):
                out.append(int(f[len("manifest-"):-len(".json")]))
        return sorted(out)

    def save_manifest(self, m: Manifest) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        m.created_unix = m.created_unix or time.time()
        prev = self.load_manifest()
        m.snapshot_id = (
            prev.snapshot_id + 1 if prev is not None else self._next_snapshot_id()
        )
        blob = json.dumps(asdict(m), indent=2)
        # history copy first, then the atomic current-pointer flip
        with open(
            os.path.join(
                self.index_dir, f"manifest-{m.snapshot_id:05d}.json"
            ),
            "w",
        ) as f:
            f.write(blob)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(blob)
        os.replace(tmp, self.manifest_path)

    @property
    def _next_id_path(self) -> str:
        return os.path.join(self.index_dir, "next_snapshot_id")

    def _next_snapshot_id(self) -> int:
        """First snapshot id after a reset: ids never repeat, so an
        expired snapshot id cannot open a later rewrite's data."""
        if not os.path.exists(self._next_id_path):
            return 0
        with open(self._next_id_path) as f:
            return int(f.read())

    def reset(self) -> None:
        """Empty the index dir before a full rewrite: the manifest goes
        first, then its snapshot history, then every table — so no
        manifest outlives the tables it describes, even when the
        rewrite fails part-way. Earlier snapshots expire; their ids are
        not reused."""
        if not os.path.isdir(self.index_dir):
            return
        prev = self.load_manifest()
        nxt = max(
            [self._next_snapshot_id()]
            + [s + 1 for s in self.snapshots()]
            + ([prev.snapshot_id + 1] if prev is not None else [])
        )
        if nxt:
            tmp = self._next_id_path + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(nxt))
            os.replace(tmp, self._next_id_path)
        if prev is not None:
            os.remove(self.manifest_path)
        names = sorted(os.listdir(self.index_dir))
        for name in names:
            if name.startswith("manifest-") and name.endswith(".json"):
                os.remove(os.path.join(self.index_dir, name))
        for name in names:
            if name.startswith(TABLE_PREFIXES):
                shutil.rmtree(self.path(name), ignore_errors=True)
