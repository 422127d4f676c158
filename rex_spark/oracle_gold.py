"""Materialized in-process gold tables for the driver's DuckDB oracle.

Queries whose semantics are not directly SQL-expressible from the raw
input tables (KG pipeline outputs, MinHash/SimHash banding, seeded LSH
ANN buckets, asset feature UDFs) get their oracle via MATERIALIZED GOLD:
the frozen in-process scalar kernels — the same ones BASELINE.json's
P/R contract compares against (kernels/extractor.py, kernels/hashing.py)
— run on the driver over the deterministic inputs, and the result (or
the minimal intermediate, e.g. band keys) is written to parquet under
``oracle_gold/``.  The DuckDB oracle then reads those files and performs
the RELATIONAL part (joins, bucketing, verification, ranking) in SQL.

What a green row certifies is therefore that the DISTRIBUTED
orchestration — mapInArrow fan-out, shuffles, band joins, window ranks,
connected components — reproduces the scalar composition exactly; the
scalar kernels themselves are pinned against the reference semantics by
the unit tests (SURVEY.md §5 strategy).

Everything here is deterministic (seeded corpus, seeded hyperplanes), so
files regenerate bit-identically on demand; they are never committed.
"""

from __future__ import annotations

import os
import re
import threading
import unicodedata
from collections import Counter
from typing import Dict, List

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLD_DIR = os.path.join(_REPO, "oracle_gold")

# Must match the q_kg_* queries in __spark_entry__.py.
KG_PAGES = 200
KG_SEED = 42

_lock = threading.Lock()
_done: set = set()


def _write(rel_path: str, columns: Dict[str, tuple]) -> str:
    """Write {col: (values, pyarrow_type)} to GOLD_DIR/rel_path atomically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(GOLD_DIR, rel_path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(
        {name: pa.array(vals, type=typ) for name, (vals, typ) in columns.items()}
    )
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


_ASCII_WS = " \t\n\x0b\f\r"
_WS_RUN = re.compile(f"[{_ASCII_WS}]+")


def normalize_surface_py(s: str) -> str:
    """In-process replica of operators.canonical.normalize_surface
    (Java regex: ``[^\\p{L}\\p{Nd}\\s]+`` -> ' ', collapse ASCII \\s,
    trim).  Equality on every gold surface is pinned by
    tests/test_oracle_gold.py."""
    out = []
    for ch in s.lower():
        cat = unicodedata.category(ch)
        if cat[0] == "L" or cat == "Nd" or ch in _ASCII_WS:
            out.append(ch)
        else:
            out.append(" ")
    return _WS_RUN.sub(" ", "".join(out)).strip()


# ---------------------------------------------------------------------------
# KG pipeline gold (triples / entities / edges / casrel)
# ---------------------------------------------------------------------------

def _kg_scalar_run(n_pages: int = KG_PAGES, seed: int = KG_SEED):
    """Run the full scalar composition on the driver: pages -> clean
    text -> sentences -> mentions/triples (+ the pointer-decode path)."""
    from .kernels.extractor import extract_document, extract_mentions
    from .kernels.synth import make_pages
    from .kernels.textnorm import html_to_text
    from .operators.pointer_extraction import pointer_decode_sentence
    from .operators.usm import usm_sentence

    pages, _planted = make_pages(n_pages, seed=seed)
    triples = set()  # (url, subj, pred, obj)
    casrel = set()
    usm = set()
    usm_ents = set()  # (url, ent_type, surface)
    sent_triples: List[tuple] = []  # sentence-level best rows (subj, pred, obj)
    freq: Counter = Counter()  # mention surface -> occurrence count
    for p in pages:
        clean = html_to_text(p["html"])
        # Every slot decodes every sentence exactly on both sides (same
        # kernels): the text plane and USM read the gap-banded pair
        # scan, CasRel scans the same band per subject — no pair cap.
        for _sid, _sent, tokens, scored in extract_document(clean, p["lang"]):
            mentions = extract_mentions(tokens)
            for surface, _et, _s, _e in mentions:
                freq[surface] += 1
            for t in scored:
                triples.add((p["url"], t[0], t[1], t[2]))
                sent_triples.append((t[0], t[1], t[2]))
            for t in pointer_decode_sentence(tokens, mentions):
                casrel.add((p["url"], t[0], t[1], t[2]))
            ents, rels = usm_sentence(tokens, mentions)
            for surf, etype, _s, _e in ents:
                usm_ents.add((p["url"], etype, surf))
            for subj, rel, obj, *_spans in rels:
                usm.add((p["url"], subj, rel, obj))
    return triples, casrel, usm, usm_ents, sent_triples, freq


def _canonicalize_py(freq: Counter) -> Dict[str, int]:
    """surface -> component id, built source-side: the three edge
    sources operators/canonical.py unions (KB alias groups, equal
    normalized forms, MinHash-LSH banding over char-3-gram shingles
    verified by exact Jaccard) rebuilt here from the gazetteer,
    normalize_surface_py and the batch hashing kernels, then one
    union-find.  Only canonical's parameters are shared.  Node ids are
    local (sorted surface order) — the component PARTITION is id-choice
    invariant."""
    from .kernels import kb
    from .kernels.hashing import (
        band_keys_batch,
        minhash_params,
        minhash_signatures_batch,
    )
    from .kernels.textnorm import char_shingles
    from .operators.canonical import (
        JACCARD_THRESHOLD,
        MAX_BUCKET,
        NUM_BANDS,
        NUM_PERM,
    )

    surfaces = sorted(freq)
    node = {s: i for i, s in enumerate(surfaces)}
    parent = list(range(len(surfaces)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(ids) -> None:
        roots = [find(i) for i in ids]
        for r in roots:
            parent[r] = min(roots)

    groups: Dict[object, List[int]] = {}
    # a KB alias mentions as its gazetteer token tuple joined by spaces
    for bucket in kb.gazetteer().values():
        for toks, _etype, canonical in bucket:
            surface = " ".join(toks)
            if surface in node:
                groups.setdefault(("kb", canonical), []).append(node[surface])
    norms = [normalize_surface_py(s) for s in surfaces]
    for i, norm in enumerate(norms):
        groups.setdefault(("norm", norm), []).append(i)
    for ids in groups.values():
        union(ids)

    shingles = [set(char_shingles(norm, 3)) for norm in norms]
    keep = [i for i, sh in enumerate(shingles) if sh]
    keys = band_keys_batch(
        minhash_signatures_batch(
            [sorted(shingles[i]) for i in keep], minhash_params(NUM_PERM)
        ),
        NUM_BANDS,
    )
    buckets: Dict[tuple, List[int]] = {}
    for row, i in enumerate(keep):
        for band_id, key in enumerate(keys[row].tolist()):
            buckets.setdefault((band_id, key), []).append(i)
    for ids in buckets.values():
        if len(ids) > MAX_BUCKET:
            continue
        for x, a in enumerate(ids):
            for b in ids[x + 1:]:
                inter = len(shingles[a] & shingles[b])
                union_size = len(shingles[a]) + len(shingles[b]) - inter
                if inter / union_size >= JACCARD_THRESHOLD:
                    union((a, b))
    return {s: find(i) for i, s in enumerate(surfaces)}


def ensure_kg_gold() -> Dict[str, str]:
    """Write kg_{triples,entities,edges,casrel}.parquet; memoized."""
    paths = {
        name: os.path.join(GOLD_DIR, f"kg_{name}.parquet")
        for name in ("triples", "entities", "edges", "casrel", "usm", "usm_ents")
    }
    with _lock:
        if "kg" in _done:
            return paths
        import pyarrow as pa

        triples, casrel, usm, usm_ents, sent_triples, freq = _kg_scalar_run()
        s = pa.string()
        for name, data in (("triples", triples), ("casrel", casrel), ("usm", usm)):
            rows = sorted(data)
            _write(
                f"kg_{name}.parquet",
                {
                    "url": ([r[0] for r in rows], s),
                    "subj": ([r[1] for r in rows], s),
                    "pred": ([r[2] for r in rows], s),
                    "obj": ([r[3] for r in rows], s),
                },
            )
        ent_rows = sorted(usm_ents)
        _write(
            "kg_usm_ents.parquet",
            {
                "url": ([r[0] for r in ent_rows], s),
                "ent_type": ([r[1] for r in ent_rows], s),
                "surface": ([r[2] for r in ent_rows], s),
            },
        )

        ent_of = _canonicalize_py(freq)
        groups: Dict[int, List[str]] = {}
        for surf, comp in ent_of.items():
            groups.setdefault(comp, []).append(surf)
        canon, n_surf, n_ment = [], [], []
        for members in groups.values():
            # canonical election = max_by(surface, struct(freq, surface))
            canon.append(max(members, key=lambda m: (freq[m], m)))
            n_surf.append(len(set(members)))
            n_ment.append(sum(freq[m] for m in members))
        _write(
            "kg_entities.parquet",
            {
                "canonical": (canon, s),
                "n_surfaces": (n_surf, pa.int32()),
                "n_mentions": (n_ment, pa.int64()),
            },
        )

        support = Counter(
            (ent_of[subj], pred, ent_of[obj]) for subj, pred, obj in sent_triples
        )
        _write(
            "kg_edges.parquet",
            {
                "pred": ([k[1] for k in support], s),
                "support": (list(support.values()), pa.int64()),
            },
        )
        _done.add("kg")
    return paths


# ---------------------------------------------------------------------------
# Dedup / ANN auxiliary gold (per input sf dir)
# ---------------------------------------------------------------------------

def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)) or "sf"


def _read_parquet_cols(path: str, columns: List[str]):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=columns)
    return [t.column(c).to_pylist() for c in columns]


def ensure_dedup_gold(sf_dir: str, n: int = 3) -> Dict[str, str]:
    """MinHash band keys + shingle postings + simhash chunks for the
    documents table of ``sf_dir`` (same kernels as operators/dedup.py)."""
    tag = _sf_tag(sf_dir)
    paths = {
        "mh_bands": os.path.join(GOLD_DIR, tag, "mh_bands.parquet"),
        "mh_shingles": os.path.join(GOLD_DIR, tag, "mh_shingles.parquet"),
        "simhash": os.path.join(GOLD_DIR, tag, "simhash.parquet"),
    }
    key = ("dedup", tag)
    with _lock:
        if key in _done:
            return paths
        import numpy as np
        import pyarrow as pa

        from .kernels.hashing import (
            band_keys_batch,
            minhash_params,
            minhash_signatures_batch,
            simhash64,
        )
        from .kernels.textnorm import ngrams
        from .operators.dedup import NUM_BANDS, NUM_PERM

        doc_ids, texts = _read_parquet_cols(
            os.path.join(sf_dir, "documents.parquet"), ["doc_id", "text"]
        )
        shingle_lists = []
        post_ids, post_sh = [], []
        sim_doc, sim_val, sim_cid, sim_chunk = [], [], [], []
        for doc_id, text in zip(doc_ids, texts):
            toks = " ".join((text or "").lower().split()).split(" ")
            sh = set(ngrams(toks, n))
            shingle_lists.append(sh)
            for g in sh:
                post_ids.append(doc_id)
                post_sh.append(g)
            h = simhash64((text or "").lower().split()) - (1 << 63)
            # 4x16-bit chunks, replicating Spark's shiftright+mask on the
            # signed value (python >> is arithmetic too)
            for cid in range(4):
                sim_doc.append(doc_id)
                sim_val.append(h)
                sim_cid.append(cid)
                sim_chunk.append((h >> (16 * cid)) & 0xFFFF)

        sigs = minhash_signatures_batch(shingle_lists, minhash_params(NUM_PERM))
        keys = band_keys_batch(sigs, NUM_BANDS).view(np.int64)
        d = len(doc_ids)
        _write(
            f"{tag}/mh_bands.parquet",
            {
                "doc_id": (np.repeat(np.asarray(doc_ids), NUM_BANDS), pa.int64()),
                "band_id": (np.tile(np.arange(NUM_BANDS), d), pa.int32()),
                "band_key": (keys.reshape(-1), pa.int64()),
            },
        )
        _write(
            f"{tag}/mh_shingles.parquet",
            {"doc_id": (post_ids, pa.int64()), "shingle": (post_sh, pa.string())},
        )
        _write(
            f"{tag}/simhash.parquet",
            {
                "doc_id": (sim_doc, pa.int64()),
                "simhash": (sim_val, pa.int64()),
                "chunk_id": (sim_cid, pa.int32()),
                "chunk": (sim_chunk, pa.int32()),
            },
        )
        _done.add(key)
    return paths


def _bucket_rows(vectors, n_planes: int, n_tables: int, dim: int):
    """Sign-bucket assignment replicating similarity.py's JVM fold
    bit-exactly: per-element double products, then a strictly serial
    left-fold sum (np.cumsum is sequential), matching Spark's
    ``aggregate`` over zip_with."""
    import numpy as np

    from .operators.similarity import _hyperplanes

    out_t, out_b = [], []
    planes_by_t = [
        _hyperplanes(dim, n_planes, seed=1227 + t) for t in range(n_tables)
    ]
    for v in vectors:
        dv = np.asarray(v, dtype=np.float32).astype(np.float64)
        for t in range(n_tables):
            bucket = 0
            for p in range(n_planes):
                prod = dv * planes_by_t[t][p]
                if prod.cumsum()[-1] >= 0:
                    bucket += 1 << p
            out_t.append(t)
            out_b.append(bucket)
    return out_t, out_b


def ensure_ann_gold(
    sf_dir: str, n_planes: int = 4, n_tables: int = 16, dim: int = 64
) -> Dict[str, str]:
    """LSH bucket assignments for the embeddings table of ``sf_dir``
    (used by both lsh_ann_topk and embedding_neardup oracles)."""
    tag = _sf_tag(sf_dir)
    paths = {"ann_buckets": os.path.join(GOLD_DIR, tag, "ann_buckets.parquet")}
    key = ("ann", tag, n_planes, n_tables)
    with _lock:
        if key in _done:
            return paths
        import numpy as np
        import pyarrow as pa

        vec_ids, embs = _read_parquet_cols(
            os.path.join(sf_dir, "embeddings.parquet"), ["vec_id", "embedding"]
        )
        out_t, out_b = _bucket_rows(embs, n_planes, n_tables, dim)
        _write(
            f"{tag}/ann_buckets.parquet",
            {
                "vec_id": (np.repeat(np.asarray(vec_ids), n_tables), pa.int64()),
                "table_id": (out_t, pa.int32()),
                "bucket": (out_b, pa.int32()),
            },
        )
        _done.add(key)
    return paths


PLANT_N = 5
PLANT_OFFSET = 1_000_000
PLANT_SCALE = 1.001


def planted_vec(v) -> list:
    """The planted near-duplicate perturbation, replicating the Spark
    expression bit-exactly: cast float->double, * 1.001 (double IEEE
    mult), cast back to float32."""
    import numpy as np

    return (
        (np.asarray(v, dtype=np.float32).astype(np.float64) * PLANT_SCALE)
        .astype(np.float32)
        .tolist()
    )


def ensure_ann_gold_planted(
    sf_dir: str, n_planes: int = 4, n_tables: int = 16, dim: int = 64
) -> Dict[str, str]:
    """LSH bucket assignments for the embeddings table UNIONED with
    PLANT_N scaled near-duplicate rows (vec_id + PLANT_OFFSET) — the
    de-vacuated neardup oracle: at sf0.01 the raw table has no pairs at
    cosine >= 0.9, so agreement on it proves nothing; the planted rows
    force the bucketed path to demonstrably FIND pairs the exact-cosine
    oracle confirms."""
    tag = _sf_tag(sf_dir)
    paths = {
        "ann_buckets_planted": os.path.join(
            GOLD_DIR, tag, "ann_buckets_planted.parquet"
        )
    }
    key = ("ann_planted", tag, n_planes, n_tables)
    with _lock:
        if key in _done:
            return paths
        import numpy as np
        import pyarrow as pa

        vec_ids, embs = _read_parquet_cols(
            os.path.join(sf_dir, "embeddings.parquet"), ["vec_id", "embedding"]
        )
        all_ids = list(vec_ids)
        all_embs = list(embs)
        for vid, v in zip(vec_ids, embs):
            if vid < PLANT_N:
                all_ids.append(vid + PLANT_OFFSET)
                all_embs.append(planted_vec(v))
        out_t, out_b = _bucket_rows(all_embs, n_planes, n_tables, dim)
        _write(
            f"{tag}/ann_buckets_planted.parquet",
            {
                "vec_id": (np.repeat(np.asarray(all_ids), n_tables), pa.int64()),
                "table_id": (out_t, pa.int32()),
                "bucket": (out_b, pa.int32()),
            },
        )
        _done.add(key)
    return paths


def ensure_ivf_gold(
    sf_dir: str,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 4096,
    query_max: int = 10,
) -> Dict[str, str]:
    """IVF quantizer assignments + query probe lists for the embeddings
    table of ``sf_dir`` — the same numpy fit/assign the Spark UDF runs
    (bit-identical by construction)."""
    tag = _sf_tag(sf_dir)
    paths = {
        "ivf_assign": os.path.join(GOLD_DIR, tag, "ivf_assign.parquet"),
        "ivf_probes": os.path.join(GOLD_DIR, tag, "ivf_probes.parquet"),
    }
    key = ("ivf", tag, n_centroids, n_probe)
    with _lock:
        if key in _done:
            return paths
        import hashlib

        import numpy as np
        import pyarrow as pa

        from .operators.similarity import _ivf_rows, ivf_fit

        vec_ids, embs = _read_parquet_cols(
            os.path.join(sf_dir, "embeddings.parquet"), ["vec_id", "embedding"]
        )
        order = np.argsort(np.asarray(vec_ids), kind="stable")
        vec_ids = [vec_ids[i] for i in order]
        embs = [embs[i] for i in order]
        # training sample = first train_sample rows ordered by
        # (md5(vec_id), vec_id) — the exact hash-sample ivf_topk draws
        # (hex compares lexicographically identically in Python and
        # Spark's UTF8String ordering: ASCII hex digits)
        hash_order = sorted(
            range(len(vec_ids)),
            key=lambda i: (
                hashlib.md5(str(vec_ids[i]).encode()).hexdigest(),
                vec_ids[i],
            ),
        )[:train_sample]
        centroids = ivf_fit(
            [embs[i] for i in hash_order], n_centroids=n_centroids
        )
        assign, probes = _ivf_rows(embs, centroids, n_probe)
        _write(
            f"{tag}/ivf_assign.parquet",
            {
                "vec_id": (vec_ids, pa.int64()),
                "centroid_id": (assign.astype("int32"), pa.int32()),
            },
        )
        q_id, q_c = [], []
        for i, vid in enumerate(vec_ids):
            if vid < query_max:
                for c in probes[i]:
                    q_id.append(vid)
                    q_c.append(int(c))
        _write(
            f"{tag}/ivf_probes.parquet",
            {"query_id": (q_id, pa.int64()), "centroid_id": (q_c, pa.int32())},
        )
        _done.add(key)
    return paths


def ensure_emb_gold() -> Dict[str, str]:
    """The deterministic embedding vocabulary as a parquet dim table
    (token, v0..v3) — same frozen kernel the word2vec text file is
    written from (operators/embeddings.py emb_vector), so the DuckDB
    join+mean-pool replicates the Spark broadcast-lookup exactly."""
    paths = {"emb_vocab": os.path.join(GOLD_DIR, "emb_vocab.parquet")}
    with _lock:
        if "emb" in _done:
            return paths
        import pyarrow as pa

        from .operators.embeddings import EMB_DIM, gold_embedding_rows

        cols = gold_embedding_rows()
        _write(
            "emb_vocab.parquet",
            {
                "token": (cols["token"], pa.string()),
                **{
                    f"v{j}": (cols[f"v{j}"], pa.float64())
                    for j in range(EMB_DIM)
                },
            },
        )
        _done.add("emb")
    return paths


# ---------------------------------------------------------------------------
# Asset gold (synthetic multimodal table)
# ---------------------------------------------------------------------------

def ensure_codec_gold(n: int = 120, seed: int = 42) -> Dict[str, str]:
    """Decode-stats gold computed from the SOURCE pixel/sample arrays of
    the decodable fixture — the decoders (kernels/codecs.py) are never
    invoked here, so a green asset_decode row certifies the full
    encode -> distributed Arrow decode round-trip (a decoder bug cannot
    cancel out; encoder+decoder complementary bugs are excluded by the
    crafted-vector unit tests in tests/test_codecs.py)."""
    paths = {
        "asset_decode": os.path.join(GOLD_DIR, "asset_decode.parquet"),
        "video_frames": os.path.join(GOLD_DIR, "video_frames.parquet"),
    }
    with _lock:
        if "codec" in _done:
            return paths
        import hashlib

        import numpy as np
        import pyarrow as pa

        from .operators.multimodal import _asset_source

        cols = {name: [] for name in (
            "asset_id", "mime", "status", "channels", "dim_a", "dim_b",
            "n_values", "sum_val", "min_val", "max_val")}
        for i in range(n):
            kind, mime, source, (w, h, _dur, rate, nch) = _asset_source(i, seed)
            cols["asset_id"].append(i)
            cols["mime"].append(mime)
            if mime == "video/mp4":  # the one genuinely unsupported codec
                cols["status"].append("unsupported")
                for name in ("channels", "dim_a", "dim_b", "n_values",
                             "sum_val", "min_val", "max_val"):
                    cols[name].append(None)
                continue
            vals = np.asarray(source).astype(np.int64).ravel()
            cols["status"].append("ok")
            cols["channels"].append(nch)
            cols["dim_a"].append(rate if kind == "audio" else w)
            cols["dim_b"].append(source.shape[0] if kind == "audio" else h)
            cols["n_values"].append(int(vals.size))
            cols["sum_val"].append(int(vals.sum()))
            cols["min_val"].append(int(vals.min()))
            cols["max_val"].append(int(vals.max()))
        # per-frame gold for the temporal fan-out (frame_stats): stats +
        # pixel md5 from the SOURCE frame arrays (never the decoder).
        # video/x-msvideo fans out its frame stack; the fixture's GIFs
        # are single-image, so each contributes one frame-0 row (the
        # animated multi-frame path is pinned by tests/test_codecs.py)
        vf = {name: [] for name in (
            "asset_id", "frame_idx", "status", "n_values", "sum_val",
            "min_val", "max_val", "pixel_md5")}
        for i in range(n):
            kind, mime, source, _meta = _asset_source(i, seed)
            if kind != "video" and mime != "image/gif":
                continue
            if mime == "video/mp4":
                vf["asset_id"].append(i)
                vf["frame_idx"].append(-1)
                vf["status"].append("unsupported")
                for name in ("n_values", "sum_val", "min_val", "max_val",
                             "pixel_md5"):
                    vf[name].append(None)
                continue
            frames = source if mime == "video/x-msvideo" else source[None]
            for k in range(frames.shape[0]):
                frame = frames[k]
                fvals = frame.astype(np.int64).ravel()
                vf["asset_id"].append(i)
                vf["frame_idx"].append(k)
                vf["status"].append("ok")
                vf["n_values"].append(int(fvals.size))
                vf["sum_val"].append(int(fvals.sum()))
                vf["min_val"].append(int(fvals.min()))
                vf["max_val"].append(int(fvals.max()))
                vf["pixel_md5"].append(
                    hashlib.md5(frame.tobytes()).hexdigest()
                )
        _write(
            "video_frames.parquet",
            {
                "asset_id": (vf["asset_id"], pa.int64()),
                "frame_idx": (vf["frame_idx"], pa.int32()),
                "status": (vf["status"], pa.string()),
                "n_values": (vf["n_values"], pa.int64()),
                "sum_val": (vf["sum_val"], pa.int64()),
                "min_val": (vf["min_val"], pa.int64()),
                "max_val": (vf["max_val"], pa.int64()),
                "pixel_md5": (vf["pixel_md5"], pa.string()),
            },
        )
        _write(
            "asset_decode.parquet",
            {
                "asset_id": (cols["asset_id"], pa.int64()),
                "mime": (cols["mime"], pa.string()),
                "status": (cols["status"], pa.string()),
                "channels": (cols["channels"], pa.int32()),
                "dim_a": (cols["dim_a"], pa.int32()),
                "dim_b": (cols["dim_b"], pa.int32()),
                "n_values": (cols["n_values"], pa.int64()),
                "sum_val": (cols["sum_val"], pa.int64()),
                "min_val": (cols["min_val"], pa.int64()),
                "max_val": (cols["max_val"], pa.int64()),
            },
        )
        _done.add("codec")
    return paths


def ensure_pdf_gold(n: int = 150, seed: int = 42) -> Dict[str, str]:
    """PDF-extraction gold computed from the SOURCE page text
    (kernels/synth.make_page) — kernels/pdf.extract_pdf_text is never
    invoked here, so a green pdf_text row certifies the full
    encode -> distributed Arrow extract round-trip."""
    paths = {"pdf_text": os.path.join(GOLD_DIR, "pdf_text.parquet")}
    with _lock:
        if "pdf" in _done:
            return paths
        import pyarrow as pa

        from .operators.pdftext import expected_pdf_row

        rows = [expected_pdf_row(i, seed) for i in range(n)]
        _write(
            "pdf_text.parquet",
            {
                "doc_id": ([r[0] for r in rows], pa.int64()),
                "status": ([r[1] for r in rows], pa.string()),
                "n_pages": ([r[2] for r in rows], pa.int32()),
                "n_chars": ([r[3] for r in rows], pa.int64()),
                "text_md5": ([r[4] for r in rows], pa.string()),
            },
        )
        _done.add("pdf")
    return paths


def ensure_warc_fixture(
    n: int = 200, files: int = 4, seed: int = 42
) -> Dict[str, str]:
    """Write a deterministic multi-file *.warc.gz corpus (the raw
    Common-Crawl container) wrapping make_page's pages, plus gold rows
    computed from make_page DIRECTLY — io/warc.py's parser never runs
    on the gold side, so a green warc_pages row certifies the
    encode -> binaryFile -> distributed-parse round-trip."""
    warc_dir = os.path.join(GOLD_DIR, "warc")
    paths = {
        "warc_dir": warc_dir,
        "warc_pages": os.path.join(GOLD_DIR, "warc_pages.parquet"),
    }
    with _lock:
        if "warc" in _done:
            return paths
        import hashlib

        import pyarrow as pa

        from .io.warc import encode_warc_gz
        from .kernels.synth import make_page

        pages = [make_page(i, seed)[0] for i in range(n)]
        os.makedirs(warc_dir, exist_ok=True)
        per = -(-n // files)
        for k in range(files):
            chunk = pages[k * per : (k + 1) * per]
            recs = [(p["url"], p["warc_ts"], p["html"]) for p in chunk]
            tmp = os.path.join(warc_dir, f".part-{k:02d}.tmp.{os.getpid()}")
            with open(tmp, "wb") as f:
                f.write(encode_warc_gz(recs))
            os.replace(tmp, os.path.join(warc_dir, f"part-{k:02d}.warc.gz"))
        _write(
            "warc_pages.parquet",
            {
                "url": ([p["url"] for p in pages], pa.string()),
                "warc_ts": (
                    [p["warc_ts"].strftime("%Y-%m-%d %H:%M:%S") for p in pages],
                    pa.string(),
                ),
                "n_bytes": ([len(p["html"]) for p in pages], pa.int64()),
                "html_md5": (
                    [hashlib.md5(p["html"]).hexdigest() for p in pages],
                    pa.string(),
                ),
            },
        )
        _done.add("warc")
    return paths


def ensure_asset_gold(n: int = 120, seed: int = 42) -> Dict[str, str]:
    """Asset metadata + feature-kernel gold computed without Spark."""
    paths = {
        "assets_meta": os.path.join(GOLD_DIR, "assets_meta.parquet"),
        "asset_features": os.path.join(GOLD_DIR, "asset_features.parquet"),
        "asset_frames": os.path.join(GOLD_DIR, "asset_frames.parquet"),
    }
    with _lock:
        if "assets" in _done:
            return paths
        import hashlib

        import numpy as np
        import pyarrow as pa

        from .kernels.hashing import splitmix64
        from .operators.multimodal import _KINDS, _feature_kernel, _frame_kernel

        rows = []
        state = seed
        for i in range(n):
            kind, _mime = _KINDS[i % len(_KINDS)]
            state = splitmix64(state)
            payload = state.to_bytes(8, "little") * (4 + i % 7)
            rows.append(
                (
                    i,
                    kind,
                    payload,
                    64 + i % 128 if kind == "image" else None,
                    1000 + i % 9000 if kind != "image" else None,
                )
            )
        _write(
            "assets_meta.parquet",
            {
                "asset_id": ([r[0] for r in rows], pa.int64()),
                "kind": ([r[1] for r in rows], pa.string()),
                "n_bytes": ([len(r[2]) for r in rows], pa.int32()),
                "width": ([r[3] for r in rows], pa.int32()),
                "duration_ms": ([r[4] for r in rows], pa.int32()),
            },
        )
        _write(
            "asset_features.parquet",
            {
                "asset_id": ([r[0] for r in rows], pa.int64()),
                "kind": ([r[1] for r in rows], pa.string()),
                "n_bytes": ([len(r[2]) for r in rows], pa.int32()),
                # replicate Spark's round(FLOAT, 4): round the double
                # expansion, then squeeze back through float32 (the Spark
                # query casts the result to double afterwards)
                "f0": (
                    [
                        float(
                            np.float32(
                                round(float(_feature_kernel(r[2], r[1])[0]), 4)
                            )
                        )
                        for r in rows
                    ],
                    pa.float64(),
                ),
            },
        )
        # frames gold rides the DECODABLE fixture: the scalar kernel is
        # shared verbatim with the distributed path, but the gold run
        # re-encodes from source and re-parses the WAV/AVI headers, so
        # a green row certifies the sample-/frame-exact seek paths end
        # to end through Arrow batching
        from .operators.multimodal import _asset_source, _encode_source

        fr_aid, fr_idx, fr_t, fr_md5 = [], [], [], []
        for i in range(n):
            kind, mime, source, (_w, _h, dur, _r, _c) = _asset_source(i, seed)
            payload = _encode_source(kind, mime, source)
            dur_ms = 1 if dur is None else dur
            for idx, t, frame in _frame_kernel(payload, dur_ms, 500, mime):
                fr_aid.append(i)
                fr_idx.append(idx)
                fr_t.append(t)
                fr_md5.append(hashlib.md5(frame).hexdigest())
        _write(
            "asset_frames.parquet",
            {
                "asset_id": (fr_aid, pa.int64()),
                "frame_idx": (fr_idx, pa.int32()),
                "t_ms": (fr_t, pa.int32()),
                "frame_md5": (fr_md5, pa.string()),
            },
        )
        _done.add("assets")
    return paths
