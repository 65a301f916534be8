"""CLI entrypoint — the engine's `spark-submit --py-files` surface.

Maps the reference's Wails-bound API (frontend/wailsjs/go/processing/
FrontendApp.d.ts:5-19 — StartExecution / FullReset / GetResults /
CheckIfResultsExist) onto subcommands: `run` ≅ StartExecution,
`reset` ≅ FullReset (runner.go:57-88), `results` ≅ GetResults
(runner.go:283-291); the other verbs are the curation and streaming
surface.  The verb table is `_parser()`: each subparser registers its
`_cmd_<verb>` handler via `set_defaults(handler=...)`, `main()` parses
and dispatches, and `python -m dude_spark --help` lists every verb.
Verbs that need Spark open it with `with _session(a, app) as spark:`,
the one place a session is built and stopped.

Cluster usage (the north-rule packaging contract):

  zip -r dude_spark.zip dude_spark
  spark-submit --py-files dude_spark.zip scripts/submit_driver.py run \\
      --input s3://…/images --checkpoint s3://…/ckpt \\
      --results out/ --detectors exact,minhash

(spark-submit takes an application FILE, not a module; the tracked
launcher scripts/submit_driver.py is the primary file.  Proven end to
end by tests/test_submit.py.  `python -m dude_spark run …` works for
plain-python local runs.)

On a cluster, omit --master (spark-submit supplies it); locally a
local[N] session is built from --cpus (0 = all cores).
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import sys

from .config import ConfigError, JobConfig, MinHashConfig, SimHashConfig, SuffixConfig
from .session import get_spark, pin


def _session_flags(p: argparse.ArgumentParser) -> None:
    """--cpus/--local, the last flags of each Spark verb; _session reads
    them (run declares its own, with help text; results takes none)."""
    p.add_argument("--cpus", type=int, default=0)
    p.add_argument("--local", action="store_true")


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dude_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="run the dedup pipeline")
    r.add_argument("--input", action="append", required=True, dest="inputs",
                   help="input parquet table path (repeatable, ≅ Directories)")
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--results", default=None)
    r.add_argument("--detectors", default="exact",
                   help="comma list of exact,minhash,simhash,suffix")
    r.add_argument("--no-paranoid", action="store_true",
                   help="disable the verify stage (≅ ParanoidMode off)")
    r.add_argument("--use-cache", action="store_true",
                   help="incremental signature reuse (≅ UseCache)")
    r.add_argument("--no-resume", action="store_true",
                   help="recompute every stage even if checkpointed")
    r.add_argument("--cpus", type=int, default=0, help="local parallelism (0=all)")
    r.add_argument("--buf-size", type=int, default=1024, help="Arrow batch rows")
    r.add_argument("--bucket-cap", type=int, default=64)
    r.add_argument("--run-id", default="cli")
    r.add_argument("--local", action="store_true",
                   help="force a local[N] master (default on when no cluster)")
    r.add_argument("--minhash-threshold", type=float, default=None)
    r.add_argument("--simhash-radius", type=int, default=None)
    r.add_argument("--substring-len", type=int, default=None)
    r.add_argument("--progress", action="store_true",
                   help="live task-progress bar (≅ progress_tracker.go ticker)")
    r.set_defaults(handler=_cmd_run)

    st = sub.add_parser(
        "stream",
        help="incremental dedup at ingest (readStream → new pairs only)",
    )
    st.add_argument("--input", required=True,
                    help="directory the producer appends parquet files to")
    st.add_argument("--state", required=True,
                    help="durable state dir (sigs/rows/pairs/checkpoint)")
    st.add_argument("--schema", default="image_id string, bytes binary",
                    help="input schema DDL (file streams need one)")
    st.add_argument("--detector",
                    choices=("exact", "minhash", "simhash", "suffix",
                             "embedding", "tilephash"),
                    default="exact",
                    help="exact sha2 buckets; MinHash-LSH near-dup "
                         "candidates + exact-Jaccard verify; SimHash "
                         "caption-channel + exact Hamming verify; "
                         "suffix winnowing + exact shared-L-gram verify; "
                         "embedding semantic dedup against frozen "
                         "k-means centroids (--centroids); or tilephash "
                         "pyramid tile-phash (crop/collage-robust image "
                         "dedup, exact key equality)")
    st.add_argument("--centroids", default=None,
                    help="embedding detector: .npy centroid matrix from "
                         "'cluster --save-centroids' (frozen — the "
                         "matrix hash is pinned in the state config id)")
    st.add_argument("--sem-threshold", type=int, default=950,
                    help="embedding detector: integer per-mille cosine "
                         "threshold")
    st.add_argument("--minhash-threshold", type=float, default=None)
    st.add_argument("--min-match-len", type=int, default=None,
                    help="suffix detector: substring-overlap threshold "
                         "(chars, default SuffixConfig's)")
    st.add_argument("--tile-grid", type=int, default=2,
                    help="tilephash detector: pyramid grid (must match "
                         "any batch run being resumed — pinned in the "
                         "state config id)")
    st.add_argument("--tile-radius", type=int, default=0,
                    help="tilephash detector: per-tile Hamming "
                         "tolerance; 0 = exact key equality (default), "
                         ">0 = pigeonhole candidates + exact "
                         "bit_count(xor) verify (re-encoded crops "
                         "pair) — pinned in the state config id")
    st.add_argument("--tile-segments", type=int, default=8,
                    help="tilephash detector: pigeonhole segment count "
                         "for --tile-radius > 0 (must divide 64)")
    st.add_argument("--bucket-cap", type=int, default=64)
    st.add_argument("--overcap-mode", choices=("star", "exhaustive"),
                    default="star",
                    help="hot-bucket fallback: star = connectivity edges "
                         "(linear), exhaustive = every in-bucket pair")
    st.add_argument("--continuous", action="store_true",
                    help="keep consuming micro-batches (default: drain "
                         "what's available, then stop)")
    st.add_argument("--n-state-shards", type=int, default=64,
                    help="pruning granularity of the durable state "
                         "(pinned per state dir; restarts must match)")
    st.add_argument("--compact-every", type=int, default=None,
                    help="fold the accumulated state into one base "
                         "generation every K epochs (pruned reads open "
                         "O(1) file sets per shard instead of O(epochs))")
    st.add_argument("--assign-clusters", action="store_true",
                    help="maintain image_id→cluster_id duplicate groups "
                         "incrementally per epoch (assign/ state dir) "
                         "instead of requiring a batch CC over pairs/")
    _session_flags(st)
    st.set_defaults(handler=_cmd_stream)

    dc = sub.add_parser(
        "decontam",
        help="remove corpus docs overlapping a benchmark set "
             "(shared >=L-char substring; operators/decontam.py)",
    )
    dc.add_argument("--corpus", required=True, help="corpus parquet path")
    dc.add_argument("--benchmark", required=True,
                    help="benchmark/eval-set parquet path")
    dc.add_argument("--out", required=True,
                    help="output dir: clean/ (surviving rows) + "
                         "flagged/ (doc_id, n_bench_hits audit table)")
    dc.add_argument("--id-col", default="image_id")
    dc.add_argument("--text-col", default="caption")
    dc.add_argument("--min-match-len", type=int, default=32)
    _session_flags(dc)
    dc.set_defaults(handler=_cmd_decontam)

    fl = sub.add_parser(
        "filter",
        help="quality-filter a corpus: drop fragments, keyword spam, "
             "repetitive docs, and optionally non-allowlisted languages "
             "(operators/filters.py; Gopher-style cuts)",
    )
    fl.add_argument("--input", required=True, help="corpus parquet path")
    fl.add_argument("--out", required=True,
                    help="output dir: clean/ (input schema) + rejected/ "
                         "(rows + first-match reason audit column)")
    fl.add_argument("--text-col", default="caption")
    fl.add_argument("--langs", default=None,
                    help="comma-separated language allowlist, e.g. "
                         "'en,de' (default: no language cut)")
    _session_flags(fl)
    fl.set_defaults(handler=_cmd_filter)

    pi = sub.add_parser(
        "pii",
        help="redact emails/phone numbers/IPs from a corpus "
             "(operators/pii.py; placeholders + per-doc audit counts)",
    )
    pi.add_argument("--input", required=True, help="corpus parquet path")
    pi.add_argument("--out", required=True,
                    help="output dir: scrubbed/ (input schema, text "
                         "redacted in place) + audit/ (id + per-type "
                         "counts for every touched doc)")
    pi.add_argument("--id-col", default="image_id")
    pi.add_argument("--text-col", default="caption")
    _session_flags(pi)
    pi.set_defaults(handler=_cmd_pii)

    dl = sub.add_parser(
        "dedup-lines",
        help="remove repeated lines inside each document "
             "(operators/textdedup.dedup_lines; text rewritten in "
             "place, first occurrence kept, per-doc audit counts)",
    )
    dl.add_argument("--input", required=True, help="corpus parquet path")
    dl.add_argument("--out", required=True,
                    help="output dir: cleaned/ (input schema, text "
                         "rewritten in place) + audit/ (id + "
                         "n_lines/n_kept for every doc that lost "
                         "lines)")
    dl.add_argument("--id-col", default="image_id")
    dl.add_argument("--text-col", default="caption")
    dl.add_argument("--sep", default="\n",
                    help="literal line separator (default: newline; "
                         "pass a real character, e.g. $'\\t' in bash)")
    _session_flags(dl)
    dl.set_defaults(handler=_cmd_dedup_lines)

    mx = sub.add_parser(
        "mix",
        help="rebalance a corpus to a target domain mixture by "
             "deterministic downsampling (functions/splits.mix_corpus; "
             "token-weighted when --weight-col names a mass column)",
    )
    mx.add_argument("--input", required=True, help="corpus parquet path")
    mx.add_argument("--out", required=True, help="mixed-corpus output dir")
    mx.add_argument("--weights", required=True,
                    help="comma-separated stratum=share list summing to "
                         "1, e.g. 'en=0.5,de=0.3,fr=0.2'; strata not "
                         "listed are dropped")
    mx.add_argument("--strata-col", required=True,
                    help="column naming each row's stratum (e.g. lang)")
    mx.add_argument("--id-col", default="image_id")
    mx.add_argument("--weight-col", default=None,
                    help="per-row mass column (e.g. a token count); "
                         "default: mixture of row counts")
    mx.add_argument("--seed", default="mix")
    mx.add_argument("--max-repeat", type=int, default=1,
                    help="allow upsampling low-resource strata by up "
                         "to this many integer epoch repeats (adds an "
                         "'epoch' column); 1 = downsample-only")
    _session_flags(mx)
    mx.set_defaults(handler=_cmd_mix)

    bp = sub.add_parser(
        "boilerplate",
        help="detect cross-document repeated spans and strip them "
             "(C4-style; operators/boilerplate.py)",
    )
    bp.add_argument("--input", required=True, help="corpus parquet path")
    bp.add_argument("--out", required=True,
                    help="output dir: stripped/ (rewritten corpus) + "
                         "grams/ (gram, df diagnostic) + audit/ "
                         "(doc, removed_tokens)")
    bp.add_argument("--id-col", default="image_id")
    bp.add_argument("--text-col", default="caption")
    bp.add_argument("--ngram", type=int, default=5,
                    help="span width in tokens (default 5)")
    bp.add_argument("--min-df", type=int, default=2,
                    help="distinct-doc threshold for a span to count "
                         "as boilerplate (default 2)")
    _session_flags(bp)
    bp.set_defaults(handler=_cmd_boilerplate)

    tr = sub.add_parser(
        "triage",
        help="dedup triage tables: per-doc duplication profile and, "
             "with --assignments, per-stratum dedup impact "
             "(operators/boilerplate.duplication_profile + "
             "operators/report.dedup_impact)",
    )
    tr.add_argument("--input", required=True, help="corpus parquet path")
    tr.add_argument("--out", required=True,
                    help="output dir: profile/ (doc, n_grams, dup_grams, "
                         "dup_x1000) + impact/ (per-stratum dedup "
                         "accounting, with --assignments)")
    tr.add_argument("--assignments", default=None,
                    help="assignments parquet (id + cluster_id, e.g. a "
                         "run checkpoint's assignments stage) enabling "
                         "the impact/ table")
    tr.add_argument("--by", default="source",
                    help="comma-separated stratum columns for impact/ "
                         "(default 'source')")
    tr.add_argument("--id-col", default="image_id")
    tr.add_argument("--text-col", default="caption")
    tr.add_argument("--ngram", type=int, default=5,
                    help="gram width in tokens (default 5)")
    tr.add_argument("--min-df", type=int, default=2,
                    help="distinct-doc threshold for a gram to count "
                         "duplicated (default 2)")
    _session_flags(tr)
    tr.set_defaults(handler=_cmd_triage)

    sh = sub.add_parser(
        "shards",
        help="write a corpus as size-bounded, verifiable training "
             "shards, optionally split train/val/test first "
             "(operators/shards.py + functions/splits.py)",
    )
    sh.add_argument("--input", required=True, help="corpus parquet path")
    sh.add_argument("--out", required=True, help="shard tree output dir")
    sh.add_argument("--rows-per-shard", type=int, default=100_000)
    sh.add_argument("--id-col", default="image_id")
    sh.add_argument("--split", action="store_true",
                    help="assign a deterministic 80/10/10 train/val/test "
                         "split column first and shard within each split")
    sh.add_argument("--verify", action="store_true",
                    help="re-read the written tree and check it against "
                         "the manifest before reporting success")
    _session_flags(sh)
    sh.set_defaults(handler=_cmd_shards)

    sa = sub.add_parser(
        "sample",
        help="deterministic identity-keyed sampling: fixed fraction, "
             "per-stratum fractions, or per-row weight column "
             "(functions/splits.py; stable across re-runs and appends)",
    )
    sa.add_argument("--input", required=True, help="corpus parquet path")
    sa.add_argument("--out", required=True, help="sampled-corpus output dir")
    mode = sa.add_mutually_exclusive_group(required=True)
    mode.add_argument("--frac", type=float, default=None,
                      help="keep a stable ~FRAC fraction of rows")
    mode.add_argument("--fractions", default=None,
                      help="per-stratum name=frac list, e.g. "
                           "'en=0.5,de=1.0' (needs --strata-col; "
                           "unlisted strata are dropped)")
    mode.add_argument("--weight-col", default=None,
                      help="per-row keep-probability column in [0,1] "
                           "(clamped; NULL weights drop the row)")
    sa.add_argument("--strata-col", default=None)
    sa.add_argument("--id-col", default="image_id")
    sa.add_argument("--seed", default="sample")
    _session_flags(sa)
    sa.set_defaults(handler=_cmd_sample)

    se = sub.add_parser(
        "select",
        help="token-budget corpus selection: keep whole docs in "
             "quality order while the running token total stays "
             "within budget (operators/packing.budget_select)",
    )
    se.add_argument("--input", required=True, help="corpus parquet path")
    se.add_argument("--out", required=True,
                    help="selected-corpus output dir (input schema + "
                         "cum_tokens, the inclusive prefix sum)")
    se.add_argument("--budget", type=int, required=True,
                    help="token budget (whole docs only; a doc exactly "
                         "exhausting it is kept)")
    se.add_argument("--token-col", default="n_tokens")
    se.add_argument("--order-by", required=True,
                    help="comma list of sort keys walked first-to-last, "
                         "'-col' for descending (numeric cols only; "
                         "pass as --order-by=-col,... so argparse does "
                         "not read the dash as a flag); include a unique "
                         "tiebreaker for a total order")
    _session_flags(se)
    se.set_defaults(handler=_cmd_select)

    km = sub.add_parser(
        "cluster",
        help="full-corpus distributed k-means over an embedding "
             "column: (id, cluster, sim_x1000) with a "
             "bit-deterministic integer-quantized trajectory "
             "(functions/clustering.kmeans_clusters)",
    )
    km.add_argument("--input", required=True, help="embeddings parquet path")
    km.add_argument("--out", required=True,
                    help="assignments output dir (id, cluster, sim_x1000)")
    km.add_argument("--k", type=int, required=True, help="number of clusters")
    km.add_argument("--iters", type=int, default=5,
                    help="Lloyd update rounds (each costs one corpus scan)")
    km.add_argument("--id-col", default="vec_id")
    km.add_argument("--vec-col", default="embedding")
    km.add_argument("--save-centroids", default=None,
                    help="also save the final int64 centroid matrix as "
                         ".npy (feeds 'stream --detector embedding')")
    _session_flags(km)
    km.set_defaults(handler=_cmd_cluster)

    sd = sub.add_parser(
        "semdedup",
        help="semantic dedup over an embedding column: k-means then "
             "within-cluster cosine pairs -> keep min-id reps; with "
             "--new, incremental pairs of a new batch vs the corpus "
             "(functions/clustering.semdedup / semdedup_new)",
    )
    sd.add_argument("--input", required=True,
                    help="embeddings parquet (the corpus / known side)")
    sd.add_argument("--new", default=None,
                    help="new-batch embeddings parquet: emit within-new "
                         "+ new-vs-known PAIRS instead of keep/remove "
                         "assignments (centroids fit on --input only)")
    sd.add_argument("--out", required=True, help="output dir")
    sd.add_argument("--k", type=int, required=True)
    sd.add_argument("--iters", type=int, default=5)
    sd.add_argument("--threshold", type=int, default=950,
                    help="integer per-mille cosine threshold (0-1000)")
    sd.add_argument("--cluster-cap", type=int, default=10_000)
    sd.add_argument("--id-col", default="vec_id")
    sd.add_argument("--vec-col", default="embedding")
    _session_flags(sd)
    sd.set_defaults(handler=_cmd_semdedup)

    dn = sub.add_parser(
        "dedup-new",
        help="incremental batch dedup: duplicate pairs of a NEW batch "
             "table against an existing corpus table (within-new + "
             "new-vs-known, never within-known; "
             "operators/candidates.cross_corpus_pairs)",
    )
    dn.add_argument("--corpus", required=True,
                    help="already-ingested corpus parquet (treated as "
                         "deduplicated: within-corpus pairs are not "
                         "emitted)")
    dn.add_argument("--new", required=True,
                    help="new batch parquet to dedupe against the "
                         "corpus and against itself")
    dn.add_argument("--out", required=True,
                    help="output dir: pairs/ + overcap/ (bucket, size, "
                         "side cap audit)")
    dn.add_argument("--detector",
                    choices=("exact", "minhash", "simhash", "suffix"),
                    default="exact",
                    help="exact sha2 content buckets (no recheck "
                         "needed); fuzzy detectors run their exact "
                         "verify over the pair members by default")
    dn.add_argument("--id-col", default="image_id")
    dn.add_argument("--text-col", default="caption",
                    help="text column the fuzzy detectors read")
    dn.add_argument("--bytes-col", default="bytes",
                    help="binary column the exact detector hashes")
    dn.add_argument("--minhash-threshold", type=float, default=None)
    dn.add_argument("--min-match-len", type=int, default=None)
    dn.add_argument("--bucket-cap", type=int, default=64)
    dn.add_argument("--overcap-mode", choices=("star", "exhaustive"),
                    default="star")
    dn.add_argument("--no-verify", action="store_true",
                    help="emit fuzzy candidates without the exact "
                         "recheck")
    _session_flags(dn)
    dn.set_defaults(handler=_cmd_dedup_new)

    sl = sub.add_parser(
        "strip-lines",
        help="remove lines repeated across >= --min-df documents "
             "(nav chrome, banners, footers; "
             "operators/boilerplate.strip_common_lines)",
    )
    sl.add_argument("--input", required=True, help="corpus parquet path")
    sl.add_argument("--out", required=True,
                    help="output dir: cleaned/ (input schema, text "
                         "rewritten in place) + audit/ (per-doc "
                         "n_lines/n_removed for docs that lost lines)")
    sl.add_argument("--min-df", type=int, default=5,
                    help="a line is boilerplate when it occurs in at "
                         "least this many distinct docs")
    sl.add_argument("--id-col", default="image_id")
    sl.add_argument("--text-col", default="caption")
    sl.add_argument("--sep", default="\n")
    _session_flags(sl)
    sl.set_defaults(handler=_cmd_strip_lines)

    tp = sub.add_parser(
        "tilephash",
        help="crop/collage-robust image dup candidates: pyramid "
             "tile-phash equality pairs "
             "(operators/multimodal.tile_phash_pairs)",
    )
    tp.add_argument("--input", required=True,
                    help="images parquet (image_id, bytes)")
    tp.add_argument("--out", required=True,
                    help="output dir: pairs/ + overcap/ (hot-key audit)")
    tp.add_argument("--grid", type=int, default=2)
    tp.add_argument("--bucket-cap", type=int, default=64)
    tp.add_argument("--radius", type=int, default=0,
                    help="per-tile Hamming tolerance: 0 = exact key "
                         "equality (default); >0 routes tiles through "
                         "the pigeonhole tables so a JPEG-re-encoded "
                         "crop (a few flipped phash bits) still pairs")
    tp.add_argument("--segments", type=int, default=8,
                    help="pigeonhole segment count for --radius > 0 "
                         "(must divide 64)")
    _session_flags(tp)
    tp.set_defaults(handler=_cmd_tilephash)

    ab = sub.add_parser(
        "ann-build",
        help="build + persist an IVF ANN index over an embedding "
             "column: spherical-k-means centroids (.npy) + the "
             "cell-assignment posting-list parquet, manifest-after-"
             "data (functions/embedding.train_ivf_centroids + "
             "ann_assign)",
    )
    ab.add_argument("--input", required=True, help="embeddings parquet path")
    ab.add_argument("--index-dir", required=True,
                    help="index root: centroids.npy + stages/ann_cells "
                         "(+ manifest)")
    ab.add_argument("--n-cells", type=int, default=32)
    ab.add_argument("--assign-cells", type=int, default=3)
    ab.add_argument("--train-sample", type=int, default=65536)
    ab.add_argument("--kmeans-iters", type=int, default=15)
    ab.add_argument("--seed", type=int, default=42)
    ab.add_argument("--id-col", default="vec_id")
    ab.add_argument("--vec-col", default="embedding")
    _session_flags(ab)
    ab.set_defaults(handler=_cmd_ann_build)

    aq = sub.add_parser(
        "ann-query",
        help="approximate top-k against a persisted ann-build index — "
             "no retrain, no corpus re-assignment "
             "(functions/embedding.ann_query)",
    )
    aq.add_argument("--index-dir", required=True,
                    help="index root produced by ann-build")
    aq.add_argument("--queries", required=True,
                    help="query embeddings parquet path")
    aq.add_argument("--out", required=True,
                    help="output dir (query_id, neighbor_id, rank)")
    aq.add_argument("--k", type=int, default=10)
    aq.add_argument("--nprobe", type=int, default=12)
    aq.add_argument("--id-col", default="vec_id")
    aq.add_argument("--vec-col", default="embedding")
    _session_flags(aq)
    aq.set_defaults(handler=_cmd_ann_query)

    nv = sub.add_parser(
        "novelty",
        help="per-doc novelty of a new batch vs a reference corpus "
             "(distinct grams appearing nowhere in the reference; "
             "operators/decontam.novelty_scores)",
    )
    nv.add_argument("--new", required=True, help="new-batch parquet path")
    nv.add_argument("--reference", required=True,
                    help="reference corpus parquet path (never broadcast)")
    nv.add_argument("--out", required=True,
                    help="output dir (doc_id, n_grams, novel, novel_x1000)")
    nv.add_argument("--id-col", default="image_id")
    nv.add_argument("--text-col", default="caption")
    nv.add_argument("--gram-len", type=int, default=32)
    _session_flags(nv)
    nv.set_defaults(handler=_cmd_novelty)

    cu = sub.add_parser(
        "curate",
        help="composed curation recipe: filter -> pii -> dedup "
             "(exact+fuzzy) -> decontam -> mix -> training shards, "
             "each stage checkpointed + audited through the stage "
             "store, resumable mid-chain (curate.py)",
    )
    cu.add_argument("--input", required=True, help="corpus parquet path")
    cu.add_argument("--workdir", required=True,
                    help="stage checkpoints + audits + shards root")
    cu.add_argument("--id-col", default="image_id")
    cu.add_argument("--text-col", default="caption")
    cu.add_argument("--source-col", default="source")
    cu.add_argument("--langs", default=None,
                    help="comma-separated allowed language ids for the "
                         "quality filter (default: no language gate)")
    cu.add_argument("--ngram", type=int, default=3)
    cu.add_argument("--jaccard", default="8/10",
                    help="fuzzy-dup threshold as an exact fraction "
                         "num/den (default 8/10)")
    cu.add_argument("--benchmarks", default=None,
                    help="benchmark parquet for decontamination "
                         "(stage skipped when absent)")
    cu.add_argument("--mix", default=None,
                    help="target domain mixture 'src=share,...' "
                         "(stage skipped when absent)")
    cu.add_argument("--rows-per-shard", type=int, default=100_000)
    cu.add_argument("--no-resume", action="store_true",
                    help="recompute every stage even if a matching "
                         "checkpoint exists")
    _session_flags(cu)
    cu.set_defaults(handler=_cmd_curate)

    mg = sub.add_parser(
        "migrate-centroids",
        help="sanctioned centroid refresh for an embedding-detector "
             "stream state: re-bucket persisted sigs under new k-means "
             "centroids in one batch job (new state generation) and "
             "flip the config-id pin (streaming/migrate.py) — run with "
             "the stream STOPPED",
    )
    mg.add_argument("--state", required=True, help="ingest state dir")
    mg.add_argument("--old-centroids", required=True,
                    help=".npy the state is currently pinned to "
                         "(verified against the pin before touching "
                         "anything)")
    mg.add_argument("--new-centroids", required=True,
                    help=".npy to re-bucket under (from a fresh "
                         "'cluster --save-centroids' run)")
    mg.add_argument("--sem-threshold", type=int, default=950,
                    help="the stream's cosine threshold (part of the "
                         "pinned config id — must match the running "
                         "stream's)")
    _session_flags(mg)
    mg.set_defaults(handler=_cmd_migrate_centroids)

    s = sub.add_parser("reset", help="truncate checkpoint state (FullReset)")
    s.add_argument("--checkpoint", required=True)
    s.set_defaults(handler=_cmd_reset)

    g = sub.add_parser("results", help="summarize latest assignments")
    src = g.add_mutually_exclusive_group(required=True)
    src.add_argument("--checkpoint",
                     help="batch pipeline checkpoint dir "
                          "(stages/components)")
    src.add_argument("--state",
                     help="streaming state dir written with "
                          "--assign-clusters: summarize the live "
                          "incremental assignments instead")
    g.add_argument("--groups", type=int, default=0, metavar="N",
                   help="also print the N largest duplicate groups nested "
                        "(rep + members, ≅ GetResults runner.go:283-291)")
    g.set_defaults(handler=_cmd_results)
    return p


def _config_from_args(a: argparse.Namespace) -> JobConfig:
    mh = MinHashConfig()
    if a.minhash_threshold is not None:
        mh = MinHashConfig(jaccard_threshold=a.minhash_threshold)
    sh = SimHashConfig()
    if a.simhash_radius is not None:
        sh = SimHashConfig(hamming_radius=a.simhash_radius)
    sx = SuffixConfig()
    if a.substring_len is not None:
        sx = SuffixConfig(min_match_len=a.substring_len)
    return JobConfig(
        input_paths=tuple(a.inputs),
        checkpoint_dir=a.checkpoint,
        results_dir=a.results,
        detectors=tuple(d.strip() for d in a.detectors.split(",") if d.strip()),
        paranoid=not a.no_paranoid,
        use_cache=a.use_cache,
        cpus=a.cpus,
        buf_size=a.buf_size,
        bucket_cap=a.bucket_cap,
        run_id=a.run_id,
        minhash=mh,
        simhash=sh,
        suffix=sx,
    ).validated()


def _parse_share_list(spec: str, flag: str) -> dict[str, float]:
    """'name=number,...' → dict, with ConfigError naming the flag —
    shared by the mix and sample subcommands."""
    out: dict[str, float] = {}
    for part in spec.split(","):
        name, eq, share = part.partition("=")
        if not eq or not name.strip():
            raise ConfigError(
                f"{flag} entries must look like name=share, got {part!r}"
            )
        try:
            out[name.strip()] = float(share)
        except ValueError as exc:
            raise ConfigError(
                f"{flag} share for {name.strip()!r} is not a "
                f"number: {share!r}"
            ) from exc
    return out


def _cores(cpus: int) -> int:
    """--cpus 0 (or less) means 'all cores' everywhere in this CLI."""
    return cpus if cpus > 0 else os.cpu_count() or 2


def _local_master(cpus: int) -> str:
    """The local[N] master --local forces; the width is clamped so an
    unclamped --cpus 0 never asks Spark for local[0], a startup
    crash."""
    return f"local[{_cores(cpus)}]"


@contextlib.contextmanager
def _session(a: argparse.Namespace, app_name: str, cpus: int | None = None,
             **conf):
    """The CLI's one Spark-session lifecycle: build, yield, always stop.

    The width is ``cpus`` when the verb passes one (run: JobConfig's
    clamped value), else ``--cpus`` with 0 meaning all cores.
    ``--local`` forces a local[width] master; without it get_spark
    resolves the master — spark-submit's wins, a bare python launch
    builds local[width].  A verb without --cpus (results) keeps
    get_spark's default width.
    """
    if cpus is None:
        cpus = getattr(a, "cpus", None)
    spark = get_spark(
        app_name,
        master=_local_master(cpus) if getattr(a, "local", False) else None,
        parallelism=None if cpus is None else _cores(cpus),
        **conf,
    )
    try:
        yield spark
    finally:
        spark.stop()


def _written(df, path: str):
    """Overwrite ``path`` with ``df`` and return the written copy: the
    verb summaries count what landed on disk instead of re-running
    df's plan."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _check_tiles(grid: int, radius: int, segments: int, prefix: str) -> None:
    """Pyramid tile-phash parameter checks shared by tilephash
    (``--grid``) and stream (``--tile-grid``); ``prefix`` keeps each
    verb's own flag names in the messages."""
    if grid < 1:
        raise ConfigError(f"{prefix}grid must be >= 1, got {grid}")
    if radius > 0:
        if segments not in (1, 2, 4, 8, 16):
            raise ConfigError(
                f"{prefix}segments must divide 64, got {segments}"
            )
        if radius >= segments:
            raise ConfigError(
                f"{prefix}radius must be < {prefix}segments, got "
                f"{radius} >= {segments}"
            )


def _detector_config(a: argparse.Namespace):
    """The registry detector config ``a.detector`` names, from the
    flags stream and dedup-new share (--minhash-threshold,
    --min-match-len); None for exact."""
    if a.detector == "minhash":
        return (
            MinHashConfig(jaccard_threshold=a.minhash_threshold)
            if a.minhash_threshold is not None
            else MinHashConfig()
        )
    if a.detector == "suffix":
        return (
            SuffixConfig(min_match_len=a.min_match_len)
            if a.min_match_len is not None
            else SuffixConfig()
        )
    if a.detector == "simhash":
        # caption channel only: a bytes-less text stream carries no
        # phash column
        return SimHashConfig(use_phash=False)
    return None


def _centroid_pin(cent, threshold_x1000: int) -> dict:
    """Embedding-detector part of a stream's pinned config id.

    Frozen-centroid pin: moving centroids re-keys the persisted bucket
    state exactly like a shard-count change, so a restart is refused
    via the config id.  stream and migrate-centroids both build the pin
    here — a second copy of the format would let a migration flip the
    state to a pin the stream never computes.
    """
    import hashlib

    import numpy as np

    return {
        "threshold_x1000": threshold_x1000,
        "centroids_sha256": hashlib.sha256(
            np.ascontiguousarray(cent).tobytes()
        ).hexdigest()[:16],
    }


def _cmd_run(a: argparse.Namespace) -> int:
    try:
        cfg = _config_from_args(a)
    except ConfigError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    from .pipeline import run_pipeline

    with _session(a, "dude_spark_run", cpus=cfg.cpus,
                  arrow_batch_rows=cfg.buf_size) as spark:
        result = run_pipeline(
            spark, cfg, resume=not a.no_resume, progress=a.progress
        )
        for stage, info in result.stages.items():
            mark = "cached" if info.skipped else f"{info.wall_s:.1f}s"
            print(f"  {stage:<24} {info.rows:>10} rows  [{mark}]")
        if result.csv_path:
            print(f"results: {result.csv_path}")
        else:
            print("no duplicates found — no results file written")
        return 0


def _cmd_curate(a: argparse.Namespace) -> int:
    num, slash, den = a.jaccard.partition("/")
    try:
        jn, jd = int(num), int(den)
        if not slash or jn < 0 or jd <= 0:
            raise ValueError
    except ValueError:
        raise ConfigError(
            f"--jaccard must be an exact fraction num/den, got "
            f"{a.jaccard!r}"
        ) from None
    if a.rows_per_shard < 1:
        raise ConfigError(
            f"--rows-per-shard must be >= 1, got {a.rows_per_shard}"
        )
    mix_weights = (
        _parse_share_list(a.mix, "--mix") if a.mix is not None else None
    )
    with _session(a, "dude_spark_curate") as spark:
        from .curate import curate

        rep = curate(
            spark,
            spark.read.parquet(a.input),
            a.workdir,
            id_col=a.id_col,
            text_col=a.text_col,
            source_col=a.source_col,
            allowed_langs=(
                tuple(s.strip() for s in a.langs.split(","))
                if a.langs
                else None
            ),
            ngram=a.ngram,
            jaccard_num=jn,
            jaccard_den=jd,
            benchmark=(
                spark.read.parquet(a.benchmarks)
                if a.benchmarks
                else None
            ),
            mix_weights=mix_weights,
            rows_per_shard=a.rows_per_shard,
            resume=not a.no_resume,
        )
        for stage, info in rep["stages"].items():
            state = (
                "skipped" if info.get("skipped") else "ran"
            ) if info.get("rows") is not None else f"skipped ({info['skipped']})"
            rows = "" if info.get("rows") is None else f" rows={info['rows']}"
            print(f"stage {stage}: {state}{rows}")
        print(
            f"{rep['shards']} shard(s), "
            f"{rep['shard_verification_failures']} verification "
            f"failure(s) -> {rep['workdir']}"
        )
        return 0 if rep["shard_verification_failures"] == 0 else 1


def _cmd_migrate_centroids(a: argparse.Namespace) -> int:
    import numpy as _np

    from .detectors import config_id

    def _emb_cfg_id(path: str) -> str:
        return config_id(
            "embedding", _centroid_pin(_np.load(path), a.sem_threshold)
        )

    with _session(a, "dude_spark_migrate") as spark:
        from .streaming import migrate_embedding_centroids

        audit = migrate_embedding_centroids(
            spark, a.state, _np.load(a.new_centroids),
            expected_config_id=_emb_cfg_id(a.old_centroids),
            new_config_id=_emb_cfg_id(a.new_centroids),
        )
        print(
            f"migrated {audit['migrated_images']} image(s) to "
            f"{audit['n_cells']} new cells (sigs generation "
            f"{audit['sigs_generation']['gen']}, pin "
            f"{audit['old_config_id']} -> {audit['new_config_id']})"
        )
        return 0


def _cmd_reset(a: argparse.Namespace) -> int:
    shutil.rmtree(a.checkpoint, ignore_errors=True)
    print(f"checkpoint reset: {a.checkpoint}")
    return 0


def _stream_detector(a: argparse.Namespace) -> tuple[object, dict]:
    """``(det_cfg, preset kwargs)`` for ``stream --detector``; det_cfg
    feeds the pinned state config id.  The flag checks already ran in
    _cmd_stream, before the session started."""
    if a.detector == "tilephash":
        if a.tile_radius > 0:
            from .streaming import tilephash_hamming_ingest

            bucket_fn, verify_fn, state_cols, rows_fn = (
                tilephash_hamming_ingest(
                    grid=a.tile_grid,
                    segments=a.tile_segments,
                    radius=a.tile_radius,
                )
            )
            det_cfg = {
                "grid": a.tile_grid,
                "segments": a.tile_segments,
                "radius": a.tile_radius,
            }
            return det_cfg, dict(
                bucket_fn=bucket_fn, verify_fn=verify_fn,
                state_cols=state_cols, rows_fn=rows_fn,
            )
        from .streaming import tilephash_ingest

        bucket_fn, verify_fn, state_cols = tilephash_ingest(grid=a.tile_grid)
        return {"grid": a.tile_grid}, dict(
            bucket_fn=bucket_fn, state_cols=state_cols
        )
    if a.detector == "embedding":
        import numpy as _np

        from .streaming import embedding_ingest

        cent = _np.load(a.centroids)
        bucket_fn, verify_fn, state_cols = embedding_ingest(
            cent, threshold_x1000=a.sem_threshold
        )
        det_cfg = _centroid_pin(cent, a.sem_threshold)
    else:
        from .streaming import detector_ingest

        det_cfg = _detector_config(a)
        bucket_fn, verify_fn, state_cols = detector_ingest(a.detector, det_cfg)
    return det_cfg, dict(
        bucket_fn=bucket_fn,
        verify_fn=verify_fn,
        state_cols=state_cols,
    )


def _check_stream_schema(spark, input_dir: str, ddl: str) -> None:
    """Refuse a --schema whose column types disagree with the parquet
    files already in --input, before the stream starts: the file
    source would otherwise fail inside the first micro-batch.  Columns
    the files lack are not checked (they read as null), and an input
    dir with no parquet files yet has nothing to check."""
    from pyspark.sql.types import StructType

    from .storage import _hadoop_glob

    if not _hadoop_glob(spark, os.path.join(input_dir, "*.parquet")):
        return
    held = {
        f.name.lower(): f.dataType.simpleString()
        for f in spark.read.parquet(input_dir).schema
    }
    for f in StructType.fromDDL(ddl):
        want = f.dataType.simpleString()
        if held.get(f.name.lower(), want) != want:
            raise ConfigError(
                f"--schema declares column {f.name!r} as {want}, but the "
                f"parquet files in {input_dir} hold "
                f"{held[f.name.lower()]}"
            )


def _cmd_stream(a: argparse.Namespace) -> int:
    if a.detector == "tilephash":
        _check_tiles(a.tile_grid, a.tile_radius, a.tile_segments, "--tile-")
    elif a.detector == "embedding" and a.centroids is None:
        raise ConfigError(
            "--detector embedding requires --centroids "
            "(.npy from 'cluster --save-centroids')"
        )
    with _session(a, "dude_spark_stream") as spark:
        _check_stream_schema(spark, a.input, a.schema)
        det_cfg, kw = _stream_detector(a)
        from .detectors import config_id
        from .streaming import start_incremental_dedup

        q = start_incremental_dedup(
            spark, a.input, a.state, a.schema,
            trigger_available_now=not a.continuous,
            bucket_cap=a.bucket_cap,
            overcap_mode=a.overcap_mode,
            n_state_shards=a.n_state_shards,
            compact_every=a.compact_every,
            assign_clusters=a.assign_clusters,
            state_config_id=config_id(a.detector, det_cfg),
            **kw,
        )
        q.awaitTermination()
        print(f"pairs: {a.state}/pairs")
        if a.assign_clusters:
            print(f"assignments: {a.state}/assign (latest-wins)")
        return 0


def _cmd_decontam(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_decontam") as spark:
        from pyspark.sql import functions as F

        from .operators.decontam import decontaminate

        def load(path):
            df = spark.read.parquet(path)
            return df.select(
                F.col(a.id_col).cast("string").alias("image_id"),
                F.col(a.text_col).alias("caption"),
            )

        _, flagged = decontaminate(
            load(a.corpus), load(a.benchmark),
            SuffixConfig(min_match_len=a.min_match_len),
        )
        # materialize the (small) flagged table FIRST, then derive
        # survivors from the written copy — the contamination chain
        # runs once, and survivors keep the corpus's FULL schema.
        # The audit ids go back to the corpus's ORIGINAL id type
        # (decontaminate ran on a string view): both outputs must
        # join back to the corpus without a cast.
        id_type = spark.read.parquet(a.corpus).schema[a.id_col].dataType
        flagged = flagged.withColumn(
            "doc_id", F.col("doc_id").cast(id_type)
        )
        flagged_t = _written(flagged, f"{a.out}/flagged")
        survivors = spark.read.parquet(a.corpus).join(
            flagged_t.select(F.col("doc_id").alias("__flag_id")),
            F.col(a.id_col) == F.col("__flag_id"),
            "left_anti",
        )
        n_clean = _written(survivors, f"{a.out}/clean").count()
        n_flagged = flagged_t.count()
        print(f"flagged {n_flagged} contaminated docs; "
              f"{n_clean} survive -> {a.out}/clean")
        return 0


def _cmd_filter(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_filter") as spark:
        from pyspark.sql import functions as F

        from .operators.filters import filter_corpus

        docs = spark.read.parquet(a.input)
        langs = (
            tuple(s.strip() for s in a.langs.split(",") if s.strip())
            if a.langs
            else None
        )
        clean, rejected = filter_corpus(
            docs, text_col=a.text_col, allowed_langs=langs
        )
        clean.write.mode("overwrite").parquet(f"{a.out}/clean")
        rejected = _written(rejected, f"{a.out}/rejected")
        # summary without a third corpus-scale scan: input count is
        # parquet-metadata-cheap, rejected/ is the small side, and
        # kept = total - rejected by the partition contract
        n_total = docs.count()
        mix = {
            r["reason"]: r["n"]
            for r in rejected.groupBy("reason")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_rej = sum(mix.values())
        n_clean = n_total - n_rej
        print(
            f"kept {n_clean}; rejected {n_rej} "
            f"({dict(sorted(mix.items()))}) -> {a.out}"
        )
        return 0


def _cmd_pii(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_pii") as spark:
        from pyspark.sql import functions as F

        from .operators.pii import scrub_pii

        docs = spark.read.parquet(a.input)
        scrubbed, audit = scrub_pii(
            docs, text_col=a.text_col, id_col=a.id_col
        )
        scrubbed.write.mode("overwrite").parquet(f"{a.out}/scrubbed")
        totals = (
            _written(audit, f"{a.out}/audit")
            .agg(
                F.count("*").alias("docs"),
                F.sum("n_emails").alias("emails"),
                F.sum("n_phones").alias("phones"),
                F.sum("n_ips").alias("ips"),
            )
            .collect()[0]
        )
        print(
            f"redacted {totals['emails'] or 0} emails, "
            f"{totals['phones'] or 0} phones, {totals['ips'] or 0} IPs "
            f"across {totals['docs']} docs -> {a.out}"
        )
        return 0


def _cmd_dedup_lines(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_dedup_lines") as spark:
        from pyspark.sql import functions as F

        from .operators.textdedup import dedup_lines, dedup_lines_text

        docs = spark.read.parquet(a.input)
        # validate cheap inputs BEFORE the corpus-wide rewrite: a
        # typo'd column must fail in milliseconds, not after the
        # full cleaned/ pass ran and left out/ half-populated
        missing = [c for c in (a.id_col, a.text_col) if c not in docs.columns]
        if missing:
            print(f"error: column(s) {missing} not in the corpus "
                  f"schema {docs.columns}", file=sys.stderr)
            return 2
        # the rewrite expression is single-sourced with the stats
        # operator (dedup_lines_text / _kept_lines) and both
        # outputs stay zero-shuffle — but they are two ACTIONS,
        # each scanning the input once (the audit could only ride
        # the cleaned pass by materializing stats columns into it)
        cleaned = docs.withColumn(
            a.text_col, dedup_lines_text(F.col(a.text_col), a.sep)
        )
        cleaned.write.mode("overwrite").parquet(f"{a.out}/cleaned")
        audit = dedup_lines(
            docs, id_col=a.id_col, text_col=a.text_col, sep=a.sep
        ).where(F.col("n_kept") < F.col("n_lines"))
        totals = (
            _written(audit, f"{a.out}/audit")
            .agg(
                F.count("*").alias("docs"),
                F.sum(F.col("n_lines") - F.col("n_kept")).alias("removed"),
            )
            .collect()[0]
        )
        print(
            f"removed {totals['removed'] or 0} repeated line(s) "
            f"across {totals['docs']} doc(s) -> {a.out}"
        )
        return 0


def _cmd_sample(a: argparse.Namespace) -> int:
    if a.fractions is not None:
        if a.strata_col is None:
            raise ConfigError("--fractions requires --strata-col")
        fr = _parse_share_list(a.fractions, "--fractions")
    with _session(a, "dude_spark_sample") as spark:
        from .functions.splits import (
            deterministic_sample,
            stratified_sample,
            weighted_sample,
        )

        docs = spark.read.parquet(a.input)
        if a.frac is not None:
            kept = deterministic_sample(
                docs, a.frac, id_col=a.id_col, seed=a.seed
            )
            label = f"frac={a.frac}"
        elif a.weight_col is not None:
            kept = weighted_sample(
                docs, a.weight_col, id_col=a.id_col, seed=a.seed
            )
            label = f"weight col {a.weight_col!r}"
        else:
            kept = stratified_sample(
                docs, fr, strata_col=a.strata_col,
                id_col=a.id_col, seed=a.seed,
            )
            label = f"fractions {dict(sorted(fr.items()))}"
        n = _written(kept, a.out).count()
        print(f"kept {n} rows ({label}) -> {a.out}")
        return 0


def _cmd_select(a: argparse.Namespace) -> int:
    order = [c.strip() for c in a.order_by.split(",") if c.strip()]
    if not order:
        raise ConfigError("--order-by must name at least one column")
    with _session(a, "dude_spark_select") as spark:
        from pyspark.sql import functions as F

        from .operators.packing import budget_select

        docs = spark.read.parquet(a.input)
        cols, tmp = [], []
        for i, c in enumerate(order):
            if c.startswith("-"):
                # descending via negation (numeric sort keys only —
                # budget_select's order contract is ascending)
                name = f"__ord{i}"
                docs = docs.withColumn(name, -F.col(c[1:]))
                tmp.append(name)
                cols.append(name)
            else:
                cols.append(c)
        out = budget_select(
            docs, a.budget, token_col=a.token_col,
            order_cols=tuple(cols),
        ).drop(*tmp)
        sel = _written(out, a.out)
        n = sel.count()
        used = sel.agg(F.max("cum_tokens")).first()[0] or 0
        print(f"kept {n} docs, {used}/{a.budget} tokens -> {a.out}")
        return 0


def _cmd_cluster(a: argparse.Namespace) -> int:
    if a.k <= 0:
        raise ConfigError(f"--k must be positive, got {a.k}")
    if a.iters < 0:
        raise ConfigError(f"--iters must be >= 0, got {a.iters}")
    with _session(a, "dude_spark_cluster") as spark:
        from .functions.clustering import kmeans_clusters

        embs = spark.read.parquet(a.input)
        if a.save_centroids is not None:
            import numpy as _np

            from .functions.clustering import (
                _assign_on_u,
                _fit_on_u,
                _u_frame,
            )

            # one u-frame shared by fit AND assignment — the
            # kmeans_clusters fast path, not two corpus passes
            u = pin(_u_frame(embs, a.id_col, a.vec_col))
            cent = _fit_on_u(u, a.k, a.iters)
            if cent.size == 0:
                raise ConfigError(
                    f"--input {a.input} has no usable embeddings"
                )
            _np.save(a.save_centroids, cent)
            out = _assign_on_u(u, cent, a.id_col)
        else:
            out = kmeans_clusters(
                embs, k=a.k, id_col=a.id_col, vec_col=a.vec_col,
                iters=a.iters,
            )
        sizes = (
            _written(out, a.out)
            .groupBy("cluster").count().orderBy("cluster").collect()
        )
        total = sum(r["count"] for r in sizes)
        print(
            f"assigned {total} rows to {len(sizes)} clusters "
            f"(k={a.k}, iters={a.iters}) -> {a.out}"
        )
        for r in sizes[:20]:
            print(f"  cluster {r['cluster']}: {r['count']}")
        if len(sizes) > 20:
            print(f"  ... {len(sizes) - 20} more cluster(s)")
        return 0


def _cmd_semdedup(a: argparse.Namespace) -> int:
    if a.k <= 0:
        raise ConfigError(f"--k must be positive, got {a.k}")
    if not 0 <= a.threshold <= 1000:
        raise ConfigError(
            f"--threshold must be in [0, 1000], got {a.threshold}"
        )
    with _session(a, "dude_spark_semdedup") as spark:
        from .functions.clustering import semdedup, semdedup_new

        embs = spark.read.parquet(a.input)
        if a.new is not None:
            out = semdedup_new(
                embs, spark.read.parquet(a.new), k=a.k,
                id_col=a.id_col, vec_col=a.vec_col, iters=a.iters,
                threshold_x1000=a.threshold, cluster_cap=a.cluster_cap,
            )
            n = _written(out, a.out).count()
            print(
                f"{n} semantic dup pair(s) of the new batch "
                f"(threshold {a.threshold}/1000) -> {a.out}"
            )
        else:
            out = semdedup(
                embs, k=a.k, id_col=a.id_col, vec_col=a.vec_col,
                iters=a.iters, threshold_x1000=a.threshold,
                cluster_cap=a.cluster_cap,
            )
            res = _written(out, a.out)
            n = res.count()
            from pyspark.sql import functions as F

            kept = res.where(F.col("keep") == 1).count()
            print(
                f"{n} vector(s) in semantic dup groups, {kept} "
                f"representative(s) kept, {n - kept} prunable "
                f"-> {a.out}"
            )
        return 0


def _cmd_strip_lines(a: argparse.Namespace) -> int:
    if a.min_df < 2:
        raise ConfigError(f"--min-df must be >= 2, got {a.min_df}")
    with _session(a, "dude_spark_strip_lines") as spark:
        from pyspark.sql import functions as F

        from .operators.boilerplate import strip_common_lines

        docs = spark.read.parquet(a.input)
        missing = [c for c in (a.id_col, a.text_col) if c not in docs.columns]
        if missing:
            print(f"error: column(s) {missing} not in the corpus "
                  f"schema {docs.columns}", file=sys.stderr)
            return 2
        sep = a.sep.replace("\\n", "\n").replace("\\t", "\t")
        res = strip_common_lines(
            docs, id_col=a.id_col, text_col=a.text_col,
            min_df=a.min_df, sep=sep, text_out="__clean",
        )
        cleaned = docs.drop(a.text_col).join(
            res.select(
                F.col(a.id_col),
                F.col("__clean").alias(a.text_col),
            ),
            a.id_col,
        )
        cleaned.select(*docs.columns).write.mode("overwrite").parquet(
            f"{a.out}/cleaned"
        )
        audit = res.where(F.col("n_removed") > 0).select(
            a.id_col, "n_lines", "n_removed"
        )
        totals = (
            _written(audit, f"{a.out}/audit")
            .agg(F.count("*").alias("docs"),
                 F.sum("n_removed").alias("removed"))
            .collect()[0]
        )
        print(
            f"stripped {totals['removed'] or 0} boilerplate "
            f"line(s) across {totals['docs']} doc(s) "
            f"(min_df={a.min_df}) -> {a.out}"
        )
        return 0


def _cmd_tilephash(a: argparse.Namespace) -> int:
    _check_tiles(a.grid, a.radius, a.segments, "--")
    with _session(a, "dude_spark_tilephash") as spark:
        if a.radius > 0:
            from .operators.multimodal import tile_phash_pairs_hamming

            pairs, overcap = tile_phash_pairs_hamming(
                spark.read.parquet(a.input),
                grid=a.grid, segments=a.segments, radius=a.radius,
                bucket_cap=a.bucket_cap,
            )
        else:
            from .operators.multimodal import tile_phash_pairs

            pairs, overcap = tile_phash_pairs(
                spark.read.parquet(a.input),
                grid=a.grid, bucket_cap=a.bucket_cap,
            )
        n = _written(pairs, f"{a.out}/pairs").count()
        oc = _written(overcap, f"{a.out}/overcap").count()
        print(
            f"{n} tile-phash pair(s), {oc} hot key(s) capped "
            f"-> {a.out}"
        )
        return 0


def _cmd_ann_build(a: argparse.Namespace) -> int:
    if a.n_cells < 1 or a.assign_cells < 1:
        raise ConfigError(
            f"--n-cells/--assign-cells must be >= 1, got "
            f"{a.n_cells}/{a.assign_cells}"
        )
    with _session(a, "dude_spark_ann_build") as spark:
        import numpy as _np

        from .functions.embedding import ann_assign, train_ivf_centroids
        from .storage import ParquetManifestStore

        embs = spark.read.parquet(a.input)
        cent = train_ivf_centroids(
            embs, a.n_cells, a.id_col, a.vec_col,
            a.train_sample, a.kmeans_iters, a.seed,
        )
        if cent.size == 0:
            raise ConfigError(
                f"--input {a.input} has no usable embeddings"
            )
        store = ParquetManifestStore(spark, a.index_dir)
        # withdraw the old manifest, data, publish last: a crash in a
        # (re)build leaves an index ann-query REFUSES (no manifest),
        # never a stale half-index served silently
        store.clear_manifest("ann_cells")
        store.write(
            ann_assign(embs, cent, a.assign_cells, a.id_col, a.vec_col),
            "ann_cells",
        )
        n_rows = store.read("ann_cells").count()
        os.makedirs(a.index_dir, exist_ok=True)
        _np.save(os.path.join(a.index_dir, "centroids.npy"), cent)
        store.publish_manifest(
            "ann_cells",
            {
                "n_cells": int(cent.shape[0]),
                "dim": int(cent.shape[1]),
                "assign_cells": int(a.assign_cells),
                "train_sample": int(a.train_sample),
                "kmeans_iters": int(a.kmeans_iters),
                "seed": int(a.seed),
                "posting_rows": int(n_rows),
            },
        )
        print(
            f"IVF index built: {cent.shape[0]} cells x dim "
            f"{cent.shape[1]}, {n_rows} posting row(s) -> {a.index_dir}"
        )
        return 0


def _cmd_ann_query(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_ann_query") as spark:
        import numpy as _np

        from .functions.embedding import ann_query
        from .storage import ParquetManifestStore

        store = ParquetManifestStore(spark, a.index_dir)
        meta = store.manifest("ann_cells")
        if meta is None:
            raise ConfigError(
                f"--index-dir {a.index_dir} has no published "
                "ann_cells manifest — run ann-build (a missing "
                "manifest means the build never committed)"
            )
        cent = _np.load(os.path.join(a.index_dir, "centroids.npy"))
        out = ann_query(
            store.read("ann_cells"), cent,
            spark.read.parquet(a.queries),
            k=a.k, nprobe=a.nprobe,
            id_col=a.id_col, vec_col=a.vec_col,
        )
        n = _written(out, a.out).count()
        print(
            f"{n} neighbor row(s) (k={a.k}, nprobe={a.nprobe}, "
            f"{meta['n_cells']} cells) -> {a.out}"
        )
        return 0


def _cmd_novelty(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_novelty") as spark:
        from pyspark.sql import functions as F

        from .operators.decontam import novelty_scores

        def load(path):
            df = spark.read.parquet(path)
            return df.select(
                F.col(a.id_col).alias("image_id"),
                F.col(a.text_col).alias("caption"),
            )

        out = novelty_scores(
            load(a.new), load(a.reference), gram_len=a.gram_len
        )
        res = _written(out, a.out)
        n = res.count()
        stats = res.agg(
            F.sum("novel").alias("nv"), F.sum("n_grams").alias("ng")
        ).first()
        pm = (stats["nv"] or 0) * 1000 // max(stats["ng"] or 0, 1)
        print(
            f"scored {n} doc(s); corpus-level novelty "
            f"{pm}/1000 -> {a.out}"
        )
        return 0


def _cmd_dedup_new(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_dedup_new") as spark:
        from pyspark.sql import functions as F

        from .detectors import DETECTORS
        from .operators.candidates import cross_corpus_pairs
        from .streaming import detector_ingest

        det_cfg = _detector_config(a)
        source = {"bytes": a.bytes_col, "caption": a.text_col}

        def load(path):
            df = spark.read.parquet(path)
            return df.select(
                F.col(a.id_col).cast("string").alias("image_id"),
                *(
                    F.col(source[c]).alias(c)
                    for c in DETECTORS[a.detector].reads(det_cfg)
                ),
            )

        known, new = load(a.corpus), load(a.new)
        bucket_fn, verify_fn, _ = detector_ingest(a.detector, det_cfg)
        kb, nb = bucket_fn(known), bucket_fn(new)
        if a.detector != "exact":
            # pandas-UDF signature chains + the eager skew probes
            # inside cross_corpus_pairs: pin the buckets once or
            # every probe action re-runs the UDFs
            kb, nb = pin(kb), pin(nb)
        pairs, overcap = cross_corpus_pairs(
            kb, nb, a.bucket_cap, a.overcap_mode
        )
        if verify_fn is not None and not a.no_verify:
            pairs = verify_fn(pairs, known.unionByName(new))
        n = _written(pairs, f"{a.out}/pairs").count()
        n_cap = _written(overcap, f"{a.out}/overcap").count()
        print(f"{n} duplicate pairs (new batch vs corpus + "
              f"within-new), {n_cap} capped buckets -> {a.out}")
        return 0


def _cmd_mix(a: argparse.Namespace) -> int:
    weights = _parse_share_list(a.weights, "--weights")
    if a.max_repeat < 1:
        raise ConfigError(
            f"--max-repeat must be >= 1, got {a.max_repeat}"
        )
    with _session(a, "dude_spark_mix") as spark:
        from .functions.splits import mix_corpus, mix_corpus_epochs

        docs = spark.read.parquet(a.input)
        if a.max_repeat > 1:
            mixed, plan = mix_corpus_epochs(
                docs, weights, strata_col=a.strata_col,
                id_col=a.id_col, weight_col=a.weight_col,
                seed=a.seed, max_repeat=a.max_repeat,
            )
            summary = {
                k: (r, round(f, 4)) for k, (r, f) in sorted(plan.items())
            }
            label = "(repeat, fraction) plan"
        else:
            mixed, fractions = mix_corpus(
                docs, weights, strata_col=a.strata_col,
                id_col=a.id_col, weight_col=a.weight_col, seed=a.seed,
            )
            summary = {k: round(v, 4) for k, v in sorted(fractions.items())}
            label = "keep fractions"
        n = _written(mixed, a.out).count()
        print(f"kept {n} rows; {label} {summary} -> {a.out}")
        return 0


def _cmd_boilerplate(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_boilerplate") as spark:
        from .operators.boilerplate import (
            boilerplate_ngrams,
            strip_boilerplate,
        )

        from pyspark.sql import functions as F

        from .functions.text import token_count

        docs = spark.read.parquet(a.input)
        # materialize-first (the decontam pattern): detection runs
        # ONCE — the written grams table feeds the strip pass, and
        # the audit derives from the WRITTEN stripped output, so
        # the corpus-wide coverage chain also runs exactly once
        grams = boilerplate_ngrams(
            docs, id_col=a.id_col, text_col=a.text_col,
            n=a.ngram, min_df=a.min_df,
        )
        hot = _written(grams, f"{a.out}/grams")
        stripped, _ = strip_boilerplate(
            docs, id_col=a.id_col, text_col=a.text_col,
            n=a.ngram, min_df=a.min_df, hot_grams=hot,
        )
        stripped = _written(stripped, f"{a.out}/stripped")

        def toks(df, name):
            return df.select(
                F.col(a.id_col).alias("__id"),
                token_count(F.col(a.text_col)).alias(name),
            )

        audit = (
            toks(docs, "__before")
            .join(
                toks(stripped, "__after"),
                "__id",
            )
            .where(F.col("__before") > F.col("__after"))
            .select(
                F.col("__id").alias(a.id_col),
                (F.col("__before") - F.col("__after"))
                .cast("long")
                .alias("removed_tokens"),
            )
        )
        n_docs = _written(audit, f"{a.out}/audit").count()
        n_grams = hot.count()
        print(
            f"{n_grams} boilerplate {a.ngram}-gram(s); stripped "
            f"tokens from {n_docs} doc(s) -> {a.out}"
        )
        return 0


def _cmd_triage(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_triage") as spark:
        from .operators.boilerplate import duplication_profile
        from .operators.report import dedup_impact

        docs = spark.read.parquet(a.input)
        # validate the cheap inputs BEFORE the expensive profile
        # pass: a typo'd --by must fail in milliseconds, not after
        # the corpus-wide explode→hash→join ran and wrote output
        by = tuple(c.strip() for c in a.by.split(",") if c.strip())
        if a.assignments is not None:
            missing = [c for c in by if c not in docs.columns]
            if missing:
                print(f"error: --by column(s) {missing} not in the "
                      f"corpus schema {docs.columns}",
                      file=sys.stderr)
                return 2
            assignments = spark.read.parquet(a.assignments)
        prof = duplication_profile(
            docs, id_col=a.id_col, text_col=a.text_col,
            n=a.ngram, min_df=a.min_df,
        )
        n_prof = _written(prof, f"{a.out}/profile").count()
        msg = f"profiled {n_prof} doc(s)"
        if a.assignments is not None:
            impact = dedup_impact(
                docs, assignments, id_col=a.id_col, group_cols=by
            )
            n_strata = _written(impact, f"{a.out}/impact").count()
            msg += f"; impact over {n_strata} {'/'.join(by)} stratum(a)"
        print(msg + f" -> {a.out}")
        return 0


def _cmd_shards(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_shards") as spark:
        from .functions.splits import hash_split
        from .operators.shards import verify_shards, write_training_shards

        df = spark.read.parquet(a.input)
        split_col = None
        if a.split:
            df = hash_split(df, id_col=a.id_col)
            split_col = "split"
        manifest = write_training_shards(
            df, a.out, a.rows_per_shard,
            id_col=a.id_col, split_col=split_col,
        )
        n_shards = manifest.count()
        if a.verify:
            bad = verify_shards(
                spark, a.out, id_col=a.id_col, split_col=split_col
            ).count()
            if bad:
                print(f"error: {bad} shard(s) failed verification",
                      file=sys.stderr)
                return 1
            print(f"wrote {n_shards} shards -> {a.out} (verified)")
        else:
            print(f"wrote {n_shards} shards -> {a.out}")
        return 0


def _cmd_results(a: argparse.Namespace) -> int:
    with _session(a, "dude_spark_results") as spark:
        from pyspark.sql import functions as F

        if a.state:
            # streaming twin: the incremental assignment state is
            # the same (image_id, cluster_id) contract the batch
            # components stage writes, so the whole report surface
            # below works on it unchanged
            import json as _json

            from .streaming.components import (
                assignment_stores,
                current_assignments,
            )

            with open(os.path.join(a.state, "state_meta.json")) as f:
                n_shards = _json.load(f)["n_state_shards"]
            # a state dir written WITHOUT --assign-clusters has no
            # assign/ store: an empty summary here would read as
            # "the stream found no duplicates" when assignments
            # were simply never maintained — refuse instead
            if not os.path.isdir(os.path.join(a.state, "assign")):
                print(
                    f"error: {a.state} has no assignment state "
                    "(assign/) — the stream ran without "
                    "--assign-clusters; re-run it with the flag "
                    "to maintain incremental duplicate groups",
                    file=sys.stderr,
                )
                return 2
            a_store, _ = assignment_stores(spark, a.state, n_shards)
            assigns = current_assignments(spark, a_store)
        else:
            assigns = spark.read.parquet(
                f"{a.checkpoint}/stages/components"
            )
        sizes = assigns.groupBy("cluster_id").count()
        n_rows = assigns.count()
        n_groups = sizes.count()
        biggest = sizes.agg(F.max("count")).collect()[0][0]
        print(f"{n_rows} rows in {n_groups} duplicate groups "
              f"(largest group: {biggest})")
        if a.groups:
            from .operators.report import group_results

            top = (
                group_results(assigns)
                .orderBy(F.col("group_size").desc(), "cluster_id")
                .limit(a.groups)
                .collect()
            )
            for g in top:
                members = ", ".join(m["image_id"] for m in g["members"])
                print(f"  {g['rep_image_id']} ({g['group_size']}): {members}")
        return 0


def main(argv: list[str] | None = None) -> int:
    a = _parser().parse_args(argv)
    return a.handler(a)


if __name__ == "__main__":
    sys.exit(main())
