"""Atomic multi-table publish via file manifests -- the transactional
commit a lakehouse needs WITHOUT a table format (Iceberg/Delta), built
from the two primitives object stores actually give you: write-new-files
and one atomic rename.

Why: a pipeline that writes N output tables (the medallion gold layer,
the curation shards + stats) is not atomic table-by-table -- a failure
between table 3 and table 4 leaves a half-published release, and
concurrent readers can see a directory mid-write. The manifest pattern
fixes both with ONE rule: data files are never the source of truth, the
manifest is.

  publish:  every table writes under data/<version>/<table>/ (new paths,
            never overwriting a published file); after ALL writes
            succeed, a JSON manifest listing every data file (with row
            counts) is staged and atomically renamed into
            _manifests/v<version>.json -- the COMMIT POINT. A crash
            before the rename publishes nothing; after it, everything.
  read:     resolve the manifest (latest or pinned version) and read
            exactly its file list -- stragglers, orphans from failed
            runs, and files of a concurrent in-flight publish are
            invisible because they are in no manifest.
  rollback: point readers at version N-1; nothing is deleted, so every
            committed version stays readable.

This is precisely Iceberg's core idea (a metadata file as the atomic
commit), scoped to the engine's needs; swap in a real table format and
`read_published` keeps the same contract. Citation: reference has no
analog (its Step Functions DAG re-runs whole jobs; partial-publish
visibility is unaddressed there -- SURVEY.md §2.10)."""

from __future__ import annotations

import json
import os
import re
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "_manifests")


def latest_version(root: str) -> int:
    """Highest committed version, or 0 if none. Only committed manifests
    count -- in-flight staging is invisible by construction."""
    mdir = _manifest_dir(root)
    if not os.path.isdir(mdir):
        return 0
    best = 0
    for name in os.listdir(mdir):
        m = re.fullmatch(r"v(\d+)\.json", name)
        if m:
            best = max(best, int(m.group(1)))
    return best


def publish_tables(tables: dict[str, DataFrame], root: str) -> int:
    """Two-phase atomic publish of every table in ``tables``. Returns the
    committed version. If ANY table write fails, no manifest is written
    and readers keep seeing the previous version untouched.

    Concurrency: BOTH phases are publisher-private until the commit.
    Data stages under data/v<version>-<run_id>/ -- a uuid-unique
    directory per publisher, so two racers computing the same next
    version never share a data directory (Spark's mode('error')
    existence check is TOCTOU; with a shared directory the loser's part
    files could interleave into the winner's os.listdir and be committed
    into its manifest). The staged manifest name is also unique per
    publisher, and the commit is ``os.link(tmp, final)`` -- an
    EXCLUSIVE-create primitive that fails with EEXIST instead of
    replacing an already-committed manifest. Exactly one racer wins; the
    loser raises and its staged data stays orphaned (invisible -- it is
    in no manifest, and in nobody else's data directory)."""
    version = latest_version(root) + 1
    run_id = uuid.uuid4().hex
    entries: dict[str, dict] = {}
    for name, df in tables.items():
        out_dir = os.path.join(root, "data", f"v{version}-{run_id}", name)
        df.write.mode("error").parquet(out_dir)
        files = sorted(
            os.path.join(out_dir, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )
        # row counts from the staged files' footers: no Spark job
        n = sum(pq.read_metadata(f).num_rows for f in files)
        # schema travels in the manifest: readers take it from there
        # instead of inferring it, and a 0-file (empty-table) publish is
        # still readable with its declared columns
        entries[name] = {"files": files, "n_rows": n, "schema": df.schema.json()}
    mdir = _manifest_dir(root)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".staged-{uuid.uuid4().hex}.json.inprogress")
    with open(tmp, "w") as f:
        json.dump({"version": version, "tables": entries}, f, indent=1)
    final = os.path.join(mdir, f"v{version}.json")
    try:
        # THE commit point: one atomic exclusive-create link. rename()
        # would silently REPLACE a manifest committed by a concurrent
        # publisher between our latest_version() read and here.
        os.link(tmp, final)
    except FileExistsError:
        os.unlink(tmp)
        raise RuntimeError(
            f"concurrent publish lost the race for version {version} at "
            f"{root!r}: v{version}.json was committed by another writer "
            "after this publisher read latest_version(). Re-run the "
            "publish (staged data is orphaned and invisible)."
        ) from None
    os.unlink(tmp)
    return version


def read_published(
    spark: SparkSession, root: str, table: str, *, version: int | None = None
) -> DataFrame:
    """Read exactly the committed file list of ``table`` at ``version``
    (default: latest). Orphan files in the data directories -- failed
    runs, concurrent in-flight publishes, manual droppings -- are
    invisible: the manifest IS the table. A root with no committed
    manifest raises FileNotFoundError naming the root."""
    v = version if version is not None else latest_version(root)
    if v == 0:
        raise FileNotFoundError(f"no committed manifest under {root!r}")
    path = os.path.join(_manifest_dir(root), f"v{v}.json")
    with open(path) as f:
        manifest = json.load(f)
    if table not in manifest["tables"]:
        raise KeyError(
            f"table {table!r} not in manifest v{v} "
            f"(has: {sorted(manifest['tables'])})"
        )
    entry = manifest["tables"][table]
    files = entry["files"]
    schema_json = entry.get("schema")
    if schema_json is None:
        if not files:
            raise ValueError(
                f"table {table!r} at version v{v} has no data files and "
                "the manifest predates schema recording -- cannot "
                "reconstruct an empty DataFrame"
            )
        return spark.read.parquet(*files)
    schema = StructType.fromJson(json.loads(schema_json))
    if not files:
        # empty-table publish (0 part files): reconstruct from the
        # recorded schema rather than crashing in spark.read.parquet(*[])
        return spark.createDataFrame([], schema)
    # the recorded schema: no schema-inference job
    return spark.read.schema(schema).parquet(*files)
