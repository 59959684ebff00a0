"""Resumable index build: per-barrel-group commits + a build manifest with
lineage and row-count/bytes metrics (north rule; FIXTURES.md §2
`_build_manifest`; SURVEY.md §4 'Resumable build').

The reference has no resumability — a crash in its driver-side reduce
(create_inverted_index.py:95-161) loses everything. Here every step commits
independently:

    doc_stats -> lexicon -> postings group 0..G-1 -> stats

Each postings group covers barrels {b : b % G == g} and is written with
mode=overwrite into its own directory (idempotent retry — a half-written
group is simply overwritten on resume; completed groups are skipped via the
manifest). This is the parquet-directory equivalent of per-barrel Iceberg
snapshot commits; the storage layout is isolated here so an Iceberg catalog
can replace it without touching build logic.

Manifest entries record: step, rows, bytes, wall_ms, input lineage, and the
run_id that produced them — the resume test asserts committed groups keep
their original run_id (no recomputation).

Run via spark-submit:
    spark-submit --py-files se_spark.zip -m search_engine_spark.plans.build_job \
        --pages <parquet> --out <dir>
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from search_engine_spark.operators import index_build as ib


class Manifest:
    """Atomic JSON manifest (write-temp + rename)."""

    def __init__(self, path: str):
        self.path = path
        self.entries: list[dict] = []
        if os.path.exists(path):
            with open(path) as f:
                self.entries = json.load(f)

    def done(self, step: str) -> bool:
        return any(e["step"] == step for e in self.entries)

    def commit(self, entry: dict) -> None:
        self.entries.append(entry)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f, indent=1)
        os.replace(tmp, self.path)

    def get(self, step: str) -> dict | None:
        for e in self.entries:
            if e["step"] == step:
                return e
        return None


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def _input_files(df: DataFrame) -> list[str]:
    try:
        return sorted(df.inputFiles())
    except Exception:
        return []


class BuildInterrupted(RuntimeError):
    """Raised by the fail-injection hook in tests."""


def resumable_build(
    spark: SparkSession,
    pages: DataFrame,
    out: ib.IndexPaths,
    run_id: str,
    n_groups: int = 4,
    n_salts: int = 8,
    salt_threshold: int = 50_000,
    n_barrels: int = 64,
    id_partitions: int = 32,
    fail_after_groups: int | None = None,
    with_positions: bool = False,
    with_spell: bool = False,
    codec: str = "varint",
) -> dict:
    os.makedirs(out.root, exist_ok=True)
    manifest = Manifest(f"{out.root}/_build_manifest.json")
    lineage = _input_files(pages)

    docs = ib.normalize_pages(pages)
    docs.cache()

    # -- step: doc_stats ----------------------------------------------------
    if not manifest.done("doc_stats"):
        t0 = time.monotonic()
        ds = ib.build_doc_stats(docs)
        ds.write.mode("overwrite").parquet(out.doc_stats)
        rows = spark.read.parquet(out.doc_stats).count()
        manifest.commit(
            {
                "step": "doc_stats", "run_id": run_id, "rows": rows,
                "bytes": _dir_bytes(out.doc_stats),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "input_files": lineage,
            }
        )
    doc_stats = ib.read_parquet(spark, out.doc_stats)
    n_docs, total_dl, total_dl1 = ib.corpus_totals(doc_stats)
    avgdl = float(total_dl) / n_docs if n_docs else 0.0
    avgdl1, avgdlb = ib.field_avgdls(n_docs, total_dl, total_dl1)
    ib.write_scalar_parquet(
        out.stats_base, ib.STATS_BASE_SCHEMA, (n_docs, total_dl, total_dl1)
    )

    forward = ib.build_forward(docs, with_positions=with_positions)
    forward.cache()

    # -- step: lexicon --------------------------------------------------------
    if not manifest.done("lexicon"):
        t0 = time.monotonic()
        lex = ib.build_lexicon(forward, id_partitions)
        lex.write.mode("overwrite").parquet(out.lexicon)
        rows = spark.read.parquet(out.lexicon).count()
        manifest.commit(
            {
                "step": "lexicon", "run_id": run_id, "rows": rows,
                "bytes": _dir_bytes(out.lexicon),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "input_files": lineage,
            }
        )
    lexicon = ib.read_parquet(spark, out.lexicon)

    # -- steps: postings per barrel group ------------------------------------
    # filter by barrel BELOW the encode shuffle: each group shuffles and
    # compresses ONLY its own terms (filtering the encoded output instead
    # would re-run the whole encode per group — mapInPandas is opaque to
    # Catalyst, so the predicate cannot be pushed through it)
    postings_rows = ib.postings_input(
        forward, lexicon, doc_stats, n_salts, salt_threshold
    )
    completed = 0
    for g in range(n_groups):
        step = f"postings_group_{g}"
        if manifest.done(step):
            continue
        if fail_after_groups is not None and completed >= fail_after_groups:
            docs.unpersist()
            forward.unpersist()
            raise BuildInterrupted(f"injected failure before group {g}")
        t0 = time.monotonic()
        barrels = [b for b in range(n_barrels) if b % n_groups == g]
        gdir = f"{out.postings}/group={g}"
        grows = postings_rows.filter(
            F.pmod("term_id", F.lit(n_barrels)).cast("int").isin(barrels)
        )
        gdf = ib.encode_postings(grows, n_barrels, codec=codec)
        gdf.write.mode("overwrite").partitionBy("barrel").parquet(gdir)
        rows = spark.read.parquet(gdir).count()
        manifest.commit(
            {
                "step": step, "run_id": run_id, "rows": rows,
                "barrels": barrels,
                "bytes": _dir_bytes(gdir),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "input_files": lineage,
            }
        )
        completed += 1

    # -- step: hot-term theta sketch (driver-side WAND threshold) ------------
    if not manifest.done("hot_bounds"):
        t0 = time.monotonic()
        hb = ib.build_hot_bounds(
            ib.read_postings(spark, out.postings), salt_threshold
        )
        hb.write.mode("overwrite").parquet(out.hot_bounds)
        rows = spark.read.parquet(out.hot_bounds).count()
        manifest.commit(
            {
                "step": "hot_bounds", "run_id": run_id, "rows": rows,
                "bytes": _dir_bytes(out.hot_bounds),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "input_files": lineage,
            }
        )

    # -- step: positions (optional; phrase queries) --------------------------
    if with_positions and not manifest.done("positions"):
        t0 = time.monotonic()
        ib.build_positions(forward, lexicon, n_barrels).write.mode(
            "overwrite"
        ).partitionBy("barrel").parquet(out.positions)
        rows = spark.read.parquet(out.positions).count()
        manifest.commit(
            {
                "step": "positions", "run_id": run_id, "rows": rows,
                "bytes": _dir_bytes(out.positions),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "input_files": lineage,
            }
        )

    # -- step: spell (optional; SymSpell deletion-neighborhood artifact
    # for query.correct_term — derived data keyed to the build epoch) ---------
    if with_spell and not manifest.done("spell"):
        t0 = time.monotonic()
        rows = ib.build_spell_index(spark, out)
        manifest.commit(
            {
                "step": "spell", "run_id": run_id, "rows": rows,
                "bytes": _dir_bytes(out.spell),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "input_files": lineage,
            }
        )

    # -- step: stats (last: marks the index complete) ------------------------
    if not manifest.done("stats"):
        from search_engine_spark.functions.compression import codec_id

        ib.write_scalar_parquet(
            out.stats,
            ib.STATS_SCHEMA,
            (n_docs, avgdl, avgdl1, avgdlb, n_salts, salt_threshold,
             n_barrels, codec_id(codec)),
        )
        manifest.commit(
            {"step": "stats", "run_id": run_id, "rows": 1, "bytes": _dir_bytes(out.stats),
             "wall_ms": 0, "input_files": lineage}
        )
    docs.unpersist()
    forward.unpersist()
    return {"n_docs": n_docs, "avgdl": avgdl, "manifest": manifest.entries}


def main(argv: Iterable[str] | None = None) -> None:
    import argparse

    from search_engine_spark.session import get_spark

    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--run-id", default=str(int(time.time())))
    p.add_argument("--n-groups", type=int, default=4)
    p.add_argument("--n-barrels", type=int, default=64)
    p.add_argument("--n-salts", type=int, default=8)
    p.add_argument("--salt-threshold", type=int, default=50_000)
    p.add_argument("--with-positions", action="store_true")
    p.add_argument("--with-spell", action="store_true")
    p.add_argument("--codec", choices=["varint", "pfor"], default="varint")
    args = p.parse_args(list(argv) if argv is not None else None)
    spark = get_spark("index-build")
    pages = spark.read.parquet(args.pages)
    summary = resumable_build(
        spark, pages, ib.IndexPaths(args.out), args.run_id,
        n_groups=args.n_groups, n_barrels=args.n_barrels,
        n_salts=args.n_salts, salt_threshold=args.salt_threshold,
        with_positions=args.with_positions, with_spell=args.with_spell,
        codec=args.codec,
    )
    print(json.dumps({k: v for k, v in summary.items() if k != "manifest"}))


if __name__ == "__main__":
    main()
