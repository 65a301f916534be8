"""Seeded, single-process input generators for the benchmark.

Every input is a pure function of (workload, seed, size) and is written
once as parquet under ``<cache>/<workload>-s<seed>-n<size>/``; later runs
with the same key read it back, so generation never lands in a timed
figure or in ``setup_s``.  No Spark session is needed: rows are built
with pandas and written with pyarrow.

images   ``dude_spark.fixtures`` rows (exact, near-caption, near-image,
         substring, collision, same-caption, hot, unicode, degenerate and
         unique populations).
docs     a text corpus with planted exact-duplicate groups, near-duplicate
         pairs (one word replaced), PII twins (equal after the PII scrub),
         low-quality rows the filter must reject, and unique filler.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the docs op's shard size, and curate's n-gram Jaccard defaults, restated
# for the recheck of its output pairs (near-dup pairs are planted at ~0.9)
ROWS_PER_SHARD = 200
NGRAM, JACCARD = 3, 0.8

IMAGE_KINDS = (
    "exact", "near_caption", "near_image", "substring", "collision",
    "same_caption", "hot", "unicode",
)


def _write(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, "part-00000.parquet"),
    )


def _cached(cache: str, key: str, build) -> str:
    """Directory for ``key``, built by ``build(tmp_dir)`` on first use and
    published with an atomic rename."""
    out = os.path.join(cache, key)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# ------------------------------------------------------------------ images

def _truth_pairs(groups: dict[str, list[str]]) -> list[list[str]]:
    out = []
    for ids in groups.values():
        ids = sorted(ids)
        out.extend([a, b] for i, a in enumerate(ids) for b in ids[i + 1:])
    return out


def _image_truth(pdf: pd.DataFrame) -> dict[str, list[str]]:
    """Planted groups the four-detector union must merge: every planted
    group (``collision`` and ``same_caption`` pairs differ in bytes but not,
    or by one character, in caption, so the caption detectors merge them),
    and the whole ``substring`` population as one group (all of its
    captions share the fixture's SUBSTRING_CORE, so the suffix detector
    links them transitively)."""
    groups: dict[str, list[str]] = {}
    sel = pdf[pdf.truth_kind.isin(IMAGE_KINDS) & pdf.truth_group_id.notna()]
    for gid, kind, iid in zip(sel.truth_group_id, sel.truth_kind, sel.image_id):
        key = "substring" if kind == "substring" else gid
        groups.setdefault(key, []).append(iid)
    return groups


def build_images(out: str, n: int, seed: int) -> None:
    from dude_spark.fixtures import IMAGES_COLUMNS, generate_pdf

    pdf = generate_pdf(n, seed=seed)
    _write(pdf[IMAGES_COLUMNS], os.path.join(out, "images"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"pairs": _truth_pairs(_image_truth(pdf)), "rows": len(pdf)}, f)


# -------------------------------------------------------------------- docs

STOP = ("the", "and", "of", "to", "in", "a")


def _doc(rs: np.random.RandomState, n_words: int = 48) -> list[str]:
    out = []
    for j in range(n_words):
        out.append(f"w{rs.randint(0, 20000):05d}")
        if j % 3 == 0:
            out.append(STOP[rs.randint(0, len(STOP))])
    return out


def build_docs(out: str, n: int, seed: int) -> None:
    """n rows: 10% exact groups of 3, 10% near pairs, 6% PII twins, 6%
    low-quality rejects, the rest unique."""
    rs = np.random.RandomState(seed)
    rows: list[tuple[str, str, str]] = []
    planted: list[list[str]] = []
    rejected: list[str] = []

    def add(kind: str, text: str) -> str:
        did = f"d_{kind}_{len(rows):06d}"
        rows.append((did, text, f"src{len(rows) % 3}"))
        return did

    for _ in range(n // 30):  # exact groups of 3
        text = " ".join(_doc(rs))
        ids = [add("exact", text) for _ in range(3)]
        planted.extend([a, b] for i, a in enumerate(ids) for b in ids[i + 1:])
    for _ in range(n // 20):  # near pairs: one word replaced
        words = _doc(rs)
        a = add("near", " ".join(words))
        j = 3 * rs.randint(1, len(words) // 3) - 1
        words[j] = f"x{rs.randint(0, 99999):05d}"
        b = add("near", " ".join(words))
        planted.append([a, b])
    for t in range(n // 33):  # PII twins: equal after the scrub
        words = _doc(rs)
        pii = (
            [f"user{t}a@mail{t}.example.com", f"user{t}b@host{t}.example.org"],
            [f"555-{t % 1000:03d}-{1000 + t % 9000:04d}", f"555-{(t + 7) % 1000:03d}-2222"],
            [f"10.{t % 250}.1.{t % 200 + 1}", f"10.{t % 250}.2.{t % 200 + 2}"],
        )[t % 3]
        ids = []
        for p in pii:
            w = list(words)
            w.insert(len(w) // 2, p)
            ids.append(add("pii", " ".join(w)))
        planted.append(ids)
    for t in range(n // 16):  # low quality: the filter must reject these
        kind = t % 3
        if kind == 0:
            text = " ".join(_doc(rs, 8))  # too short
        elif kind == 1:
            text = " ".join(f"w{rs.randint(0, 20000):05d}" for _ in range(40))
        else:
            text = " ".join(["the buy now offer"] * 12)  # repetitive
        rejected.append(add("lowq", text))
    while len(rows) < n:
        add("uniq", " ".join(_doc(rs)))

    # one row layout for every seed: the seed changes the words, not which
    # partition each kind of row lands in
    order = np.random.RandomState(0).permutation(len(rows))
    pdf = pd.DataFrame([rows[i] for i in order], columns=["doc_id", "text", "source"])
    _write(pdf, os.path.join(out, "docs"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"pairs": planted, "rejected": rejected, "rows": len(rows)}, f)


def inputs(cache: str, workload: str, seed: int, n: int) -> str:
    kind = "docs" if workload.startswith("docs") else "images"
    build = build_docs if kind == "docs" else build_images
    return _cached(cache, f"{kind}-s{seed}-n{n}", lambda d: build(d, n, seed))
