"""Seeded input staging for the KG benchmark.

Writes, for one seed, the two parquet source tables the benchmark hands
to the engine, with only the ``input_hint`` columns
``(repo, path, commit, lang, content)`` — the table shape
``scripts/submit_kg.py --source`` reads:

- ``full/``: 10 repos x 2,000 files with a 20x monorepo (58,008 files
  with the planted edge rows), generated from ``seed``;
- ``small/``: the same generator on ``seed + 1`` at 100 files per repo
  (2,908 files), so nothing built from it can be reused on ``full/``;
- ``tiny/``: the same generator on ``seed + 2`` at 10 files per repo
  (a warm-up table that shares nothing with the other two).

Each table is split into ``PARTS`` files of one row group each, so a
``local[4]`` scan gets parallel input splits. ``meta.json`` records each
table's content bytes (the ``write_amp`` denominator) and file count. The result is cached per seed: a second call finds
``meta.json`` for the same shape and returns at once.

Run as a script (the benchmark does so in a child process, so staging
never touches the benchmark process's clock or peak RSS)::

    python3 perfbench/stage.py --seed 42 --out perfbench/_work/data/seed42
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

N_REPOS = 10
FILES_PER_REPO = 2000
SKEW_FACTOR = 20
SMALL_FILES_PER_REPO = 100
TINY_FILES_PER_REPO = 10
PARTS = 8
COLUMNS = ["repo", "path", "commit", "lang", "content"]


def _write_table(pdf, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    step = -(-len(pdf) // PARTS)
    for i in range(PARTS):
        chunk = pdf.iloc[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def stage(seed: int, out: str) -> dict:
    shape = {"seed": seed, "files_per_repo": FILES_PER_REPO,
             "small_files_per_repo": SMALL_FILES_PER_REPO,
             "tiny_files_per_repo": TINY_FILES_PER_REPO, "parts": PARTS}
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if all(meta.get(k) == v for k, v in shape.items()):
            return meta
    from cosmos_spark.corpus import make_corpus

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = dict(shape)
    for name, fpr, s in (("full", FILES_PER_REPO, seed),
                         ("small", SMALL_FILES_PER_REPO, seed + 1),
                         ("tiny", TINY_FILES_PER_REPO, seed + 2)):
        pdf = make_corpus(n_repos=N_REPOS, files_per_repo=fpr,
                          skew_factor=SKEW_FACTOR, seed=s)[COLUMNS]
        _write_table(pdf, os.path.join(tmp, name))
        meta[f"{name}_files"] = len(pdf)
        meta[f"{name}_content_bytes"] = int(
            pdf["content"].str.encode("utf-8").str.len().sum())
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)  # a killed staging leaves no half-written cache
    return meta


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    print(json.dumps(stage(args.seed, args.out)))


if __name__ == "__main__":
    main(sys.argv[1:])
