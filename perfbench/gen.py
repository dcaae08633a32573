"""Seeded input generator for the benchmark workloads.

The base tables are a copy of the engine's sf0.01 test fixtures
(`data/sf0.01`, schemas in FIXTURES.md section B), kept next to the
benchmark so that its inputs never change under it.  A *family* of
disjoint copies is derived from them with tools/scale10x.py, the
key-shift transform the repo's 10x oracle sweep was proven on: copy i
adds i * (max_key + 1) to every key of a key domain, tags and perturbs
the document texts and rotates the embedding components.  The seed
picks which copies of the family a workload gets and the row order
within every table; the same seed always writes byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> <seed> <star_copies> <text_copies>
"""
import contextlib
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import scale10x  # noqa: E402

BASE = os.path.join(HERE, "data", "sf0.01")
FAMILY = 8
# dims are shared by every copy; the text tables (documents and the
# embeddings that join them on vec_id = doc_id) get their own copy count
DIMS = ("region", "nation")
TEXT = ("documents", "embeddings")
STAR = ("customer", "supplier", "part", "orders", "lineitem", "events")
TABLES = DIMS + STAR + TEXT


def pick_copies(seed, star, text):
    """The family members a seed selects: (star copies, text copies), each
    sorted and distinct. The text copies always include copy 0: the
    similarity ops search for the vectors with the lowest ids (vec_id < 64),
    which only copy 0 has."""
    rng = np.random.default_rng([seed, 1])
    star_copies = rng.choice(FAMILY, star, replace=False)
    text_copies = [0] + list(1 + rng.choice(FAMILY - 1, text - 1, replace=False))
    return sorted(int(c) for c in star_copies), sorted(int(c) for c in text_copies)


def generate(out_dir, seed, star, text):
    """Writes the seed's inputs to out_dir; returns the copies picked and
    {table: sha256 of its file}."""
    os.makedirs(out_dir, exist_ok=True)
    star_copies, text_copies = pick_copies(seed, star, text)
    family = os.path.join(out_dir, ".family")
    # scale10x reports on stdout, which carries the benchmark's result
    with contextlib.redirect_stdout(sys.stderr):
        scale10x.main(BASE, family, max(star_copies + text_copies) + 1)
    rng = np.random.default_rng([seed, 2])
    digests = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(family, f"{name}.parquet"))
        if name not in DIMS:
            # the family concatenates its copies in order, n rows each
            n = pq.read_metadata(os.path.join(BASE, f"{name}.parquet")).num_rows
            t = pa.concat_tables([t.slice(i * n, n) for i in
                                  (text_copies if name in TEXT else star_copies)])
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, version="2.6", coerce_timestamps=None,
                       compression="snappy")
        with open(path, "rb") as f:
            digests[name] = hashlib.sha256(f.read()).hexdigest()
    shutil.rmtree(family)
    return {"copies": {"star": star_copies, "text": text_copies},
            "sha256": digests}


if __name__ == "__main__":
    out, seed, star, text = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    print(generate(out, seed, star, text))
