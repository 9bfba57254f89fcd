"""Independent pure-Python replay of the four approximate queries
(minhash_near_dups, simhash_bucket_groups, ann_topk_q0, ivf_ann_q0) at
sf0.01, emitting golden VALUES oracles so the driver can value-check them.

The replay re-implements the same PUBLIC math the operators declare —
XXH64 (the xxHash spec), the MinHash universal-hash schedule, sign-LSH,
sampled-centroid IVF — from scratch in pure Python over the parquet read
via DuckDB.  It shares NO Spark code with the operators (precedent: the
by-construction `kg_triples_synthetic` golden oracle).

Usage: python scripts/golden_replay.py   # rewrites ontology_pipeline_spark/golden_approx.py

Determinism caveats this replay relies on (all verified by the contract
check): sf0.01 documents/embeddings are ASCII and non-null; Spark round()
is decimal HALF_UP on the shortest repr (== Decimal(repr(x)).quantize);
F.aggregate folds arrays left-to-right so sequential Python float loops
reproduce the exact IEEE-754 operation order.
"""

from __future__ import annotations

import math
import os
import random
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb

SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ontology_pipeline_spark",
    "golden_approx.py",
)

# ---------------------------------------------------------------- XXH64
# Pure-Python XXH64 (public spec, https://github.com/Cyan4973/xxHash).
# Spark's `xxhash64` = XXH64(utf8 bytes, seed=42) returned as SIGNED int64.

_P1 = 0x9E3779B185EBCA87
# Spark's xxhash64 is spec-standard XXH64 with seed=42 over the UTF-8 bytes
# (strings) or the little-endian 8-byte value (longs); these are the official
# xxHash PRIME64 constants (PRIME64_2 = 0xC2B2AE3D27D4EB4F = 14029467366897019727).
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 as a SIGNED 64-bit value (Spark semantics)."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_long(l: int, seed: int = 42) -> int:
    """Spark xxhash64 over a LONG input (hashLong path): one 8-byte lane of
    the two's-complement little-endian value."""
    h = (seed + _P5 + 8) & _M64
    h ^= _round(0, l & _M64)
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


# ---------------------------------------------------------------- Murmur3
# Spark's F.hash = Murmur3 x86 32-bit, seed 42.  For array<long> it folds
# elements left-to-right: h = hashLong(elem, h), each application a full
# mix+fmix(8).  Verified bit-identical vs F.hash(array<long>) in
# tests/test_properties.py — the LSH band bucket (dedup.band_structs) hashes
# the signature slice with this, so the replay's candidate generation is
# exactly Spark's, Murmur3 collisions included.
_M32 = (1 << 32) - 1


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mm3_mixk1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    return (_rotl32(k1, 15) * 0x1B873593) & _M32


def _mm3_mixh1(h1: int, k1: int) -> int:
    h1 ^= k1
    return (_rotl32(h1, 13) * 5 + 0xE6546B64) & _M32


def _mm3_fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def _mm3_long(l: int, seed: int) -> int:
    l &= (1 << 64) - 1
    h1 = _mm3_mixh1(seed & _M32, _mm3_mixk1(l & _M32))
    h1 = _mm3_mixh1(h1, _mm3_mixk1((l >> 32) & _M32))
    return _mm3_fmix(h1, 8)


def murmur3_long_array(arr, seed: int = 42) -> int:
    """Spark F.hash over array<long> as a SIGNED 32-bit value."""
    h = seed & _M32
    for v in arr:
        h = _mm3_long(v, h)
    return h - (1 << 32) if h >= (1 << 31) else h


# ------------------------------------------------------------ text utils
# Java \s (used by F.split) is the ASCII whitespace class; documents at
# sf0.01 are verified ASCII so str.lower() == F.lower here.
_WS = re.compile(r"\s+", re.ASCII)


def tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text) if t]


def spark_round(x: float, ndigits: int = 6) -> float:
    """Spark Round on double: decimal HALF_UP over the shortest repr."""
    q = Decimal(1).scaleb(-ndigits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


# ------------------------------------------------------------- minhash
_MERSENNE = (1 << 31) - 1


def minhash_signature(text: str, num_hashes: int, shingle_n: int, coeffs) -> list[int] | None:
    toks = tokens(text.lower())
    if shingle_n == 1:
        shingles = list(dict.fromkeys(toks))
    else:
        grams = [
            " ".join(toks[i : i + shingle_n])
            for i in range(max(len(toks) - shingle_n + 1, 0))
        ]
        shingles = list(dict.fromkeys(grams))
    if not shingles:
        return None
    hs = [xxh64(s.encode("utf-8")) % _MERSENNE for s in shingles]
    sig = [_MERSENNE] * num_hashes
    for h in hs:
        for j, (a, b) in enumerate(coeffs):
            v = (h * a + b) % _MERSENNE
            if v < sig[j]:
                sig[j] = v
    return sig


def replay_minhash_near_dups(docs, num_hashes=32, bands=4, shingle_n=2, seed=42, threshold=0.8):
    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]
    rows_per_band = num_hashes // bands
    sigs = {}
    for doc_id, text in docs:
        s = minhash_signature(text, num_hashes, shingle_n, coeffs)
        if s is not None:
            sigs[doc_id] = s
    # banded LSH candidates keyed by Spark's Murmur3 of the band slice —
    # bit-identical to dedup.band_structs' F.hash(F.slice(sig, ...)), so the
    # candidate set matches Spark's exactly (Murmur3 collisions included)
    buckets: dict[tuple, list] = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            key = (b, murmur3_long_array(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(doc_id)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for a, b in sorted(cand):
        agree = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        est = spark_round(agree / float(num_hashes), 6)
        if est >= threshold:
            out.append((a, b, est))
    return out


def replay_incremental_dedup(
    docs, mod=5, num_hashes=32, bands=8, shingle_n=2, seed=42, threshold=0.8
):
    """Replay of the incremental_dedup_probe query (VERDICT r4 #1):
    deterministic xxhash64(doc_id) pmod-`mod` split into history/shard;
    exact_dedup_against = intra-shard min-id-per-fingerprint dedup then
    anti-join against history fingerprints (fp = the whitespace-normalized
    lowered text — md5 equality == normalized-text equality);
    minhash_probe_near_dups = shard signatures vs a history-built band index
    (shared coefficient schedule, Murmur3 band buckets — bit-identical
    candidate generation, Spark collisions included)."""
    shard = [(d, t) for d, t in docs if xxh64_long(d) % mod == 0]
    history = [(d, t) for d, t in docs if xxh64_long(d) % mod != 0]

    def norm(t):
        # strip(" ") not strip(): Spark's F.trim removes only ASCII spaces
        return _WS.sub(" ", t.strip(" ").lower())

    byfp: dict[str, int] = {}
    for d, t in shard:
        fp = norm(t)
        if fp not in byfp or d < byfp[fp]:
            byfp[fp] = d
    hist_fps = {norm(t) for _d, t in history}
    survivors = sorted(d for fp, d in byfp.items() if fp not in hist_fps)

    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]
    rows_per_band = num_hashes // bands

    def sigs_of(rows):
        out = {}
        for d, t in rows:
            s = minhash_signature(t, num_hashes, shingle_n, coeffs)
            if s is not None:
                out[d] = s
        return out

    hist_sigs, shard_sigs = sigs_of(history), sigs_of(shard)

    def band_keys(sig):
        return [
            (b, murmur3_long_array(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            for b in range(bands)
        ]

    index: dict[tuple, list] = {}
    for d, sig in hist_sigs.items():
        for key in band_keys(sig):
            index.setdefault(key, []).append(d)
    cand = set()
    for d, sig in shard_sigs.items():
        for key in band_keys(sig):
            for h in index.get(key, ()):
                cand.add((d, h))
    pairs = []
    for nd, hd in sorted(cand):
        agree = sum(1 for x, y in zip(shard_sigs[nd], hist_sigs[hd]) if x == y)
        est = spark_round(agree / float(num_hashes), 6)
        if est >= threshold:
            pairs.append((nd, hd, est))
    return [("survivor", d, None, None) for d in survivors] + [
        ("cross_pair", a, b, e) for a, b, e in pairs
    ]


def replay_ingest(
    docs, mod=2, lang="en", min_quality=0.5,
    num_hashes=32, bands=8, shingle_n=2, seed=42, threshold=0.8,
):
    """Sequential replay of the ingest_shard_summary query: documents split
    by xxhash64(doc_id) pmod `mod` into shards ingested in order via
    plans.ingest.ingest_shard — per shard: gates (lang-id + quality floor,
    same rules as replay_curation) -> exact_dedup_against the COMMITTED
    fingerprint set (intra-shard min-id dedup, then drop fps already seen)
    -> one union-find over the intra-shard minhash pairs, each cross-shard
    pair (probe vs the COMMITTED band index) flagging its shard end's
    component -> keep a doc iff it is its component's min id and the
    component is unflagged -> commit survivors' fps + signatures.  Returns
    ('survivor', shard_id, doc_id, None...) rows plus one
    ('lineage', shard_id, None, total, exact, intra, new) row per shard."""
    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]
    rows_per_band = num_hashes // bands

    def norm(t):
        return _WS.sub(" ", t.strip(" ").lower())

    def band_keys(sig):
        return [
            (b, murmur3_long_array(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            for b in range(bands)
        ]

    shards: dict[int, list] = {i: [] for i in range(mod)}
    for d, t in docs:
        shards[xxh64_long(d) % mod].append((d, t))

    hist_fps: set = set()
    hist_index: dict[tuple, list] = {}  # band key -> [(doc_id, sig)]
    out = []
    for i in range(mod):
        shard_id = f"shard_{i:03d}"
        rows = shards[i]
        total = len(rows)
        gated = [
            (d, t)
            for d, t in rows
            if replay_lang_id(t) == lang and replay_quality(t) >= min_quality
        ]
        byfp: dict[str, int] = {}
        for d, t in gated:
            fp = norm(t)
            if fp not in byfp or d < byfp[fp]:
                byfp[fp] = d
        keep = {d for fp, d in byfp.items() if fp not in hist_fps}
        exact_docs = [(d, t) for d, t in gated if d in keep]
        n_exact = len(exact_docs)

        comp = dict(
            replay_dedup_clusters(exact_docs, num_hashes, bands, shingle_n, seed, threshold)
        )
        n_intra = sum(comp.get(d, d) == d for d, _t in exact_docs)

        sigs = {d: minhash_signature(t, num_hashes, shingle_n, coeffs) for d, t in exact_docs}
        flagged = set()
        for d, sig in sigs.items():
            if sig is None:
                continue
            seen_cand = set()
            for key in band_keys(sig):
                for hd, hsig in hist_index.get(key, ()):
                    if hd in seen_cand:
                        continue
                    seen_cand.add(hd)
                    agree = sum(1 for x, y in zip(sig, hsig) if x == y)
                    if spark_round(agree / float(num_hashes), 6) >= threshold:
                        flagged.add(comp.get(d, d))
        survivors = [
            (d, t) for d, t in exact_docs if comp.get(d, d) == d and d not in flagged
        ]

        for d, t in survivors:
            hist_fps.add(norm(t))
            sig = sigs[d]
            if sig is not None:
                for key in band_keys(sig):
                    hist_index.setdefault(key, []).append((d, sig))

        out.extend(
            ("survivor", shard_id, d, None, None, None, None)
            for d, _t in survivors
        )
        out.append(
            ("lineage", shard_id, None, total, n_exact, n_intra, len(survivors))
        )
    return out


def replay_dedup_clusters(docs, num_hashes=32, bands=8, shingle_n=2, seed=42, threshold=0.8):
    """Union-find over the replayed LSH pairs; cluster id = min member."""
    pairs = replay_minhash_near_dups(docs, num_hashes, bands, shingle_n, seed, threshold)
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _est in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((d, find(d)) for d in parent)


def replay_hash_sample(doc_rows, rate=0.1):
    """hash_sample replay: keep keys with
    pmod(xxhash64(cast(key AS string)), p) < rate*p (the operator casts to
    string for cross-type consistency)."""
    thr = int(rate * _MERSENNE)
    return sorted(
        (d, s) for d, s in doc_rows if xxh64(str(d).encode()) % _MERSENNE < thr
    )


def replay_mixture_sample(doc_rows, rates, default_rate=0.05):
    """mixture_sample replay: per-group hash-threshold (same rank rule as
    hash_sample, threshold chosen by the row's group)."""
    out = []
    for d, src in doc_rows:
        thr = int(rates.get(src, default_rate) * _MERSENNE)
        if xxh64(str(d).encode()) % _MERSENNE < thr:
            out.append((d, src))
    return sorted(out)


def replay_stratified_sample(doc_rows, n=3):
    """stratified_hash_sample replay: n smallest (hash rank, key) per group."""
    groups: dict[str, list[tuple[int, int]]] = {}
    for d, src in doc_rows:
        groups.setdefault(src, []).append((xxh64(str(d).encode()) % _MERSENNE, d))
    out = []
    for src, ranked in groups.items():
        for _r, d in sorted(ranked)[:n]:
            out.append((src, d))
    return sorted(out)


# ------------------------------------------------- chunking + packing
def replay_chunk_pack_stats(
    docs, chunk_tokens=64, overlap=8, budget=256, n_groups=8
):
    """Replay of the chunked_pack_stats query: context-window chunking
    (operators/chunking.chunk_documents) + next-fit packing (pack_chunks)
    recomputed from scratch — windows from the token array, hash shard =
    pmod(xxhash64(str(doc_id)), n_groups), chunks packed in (doc_id,
    chunk_idx) order (unique by construction, so the operator's hash
    tiebreak never participates).  Per shard: (pack_group, n_chunks,
    n_packs, sum_tokens, max_fill, sum_chars)."""
    stride = chunk_tokens - overlap
    groups: dict[int, list[tuple]] = {}
    for doc_id, text in docs:
        toks = tokens(text)
        n = len(toks)
        if n == 0:
            continue
        g = xxh64(str(doc_id).encode()) % n_groups
        idx = 0
        for start in range(0, n, stride):
            if start != 0 and start + overlap >= n:
                idx += 1
                continue  # strict sub-span of the previous window
            chunk = toks[start : start + chunk_tokens]
            ctext = " ".join(chunk)
            groups.setdefault(g, []).append(
                (doc_id, idx, len(chunk), len(ctext), ctext)
            )
            idx += 1
    out = []
    for g in sorted(groups):
        rows = sorted(groups[g])  # (doc_id, chunk_idx) order
        pack_id, fill, max_fill, n_packs = 0, 0, 0, 1
        sum_tokens = sum_chars = 0
        bins: dict[int, list[str]] = {}
        for _d, _i, ntok, nchr, ctext in rows:
            if fill and fill + ntok > budget:
                pack_id += 1
                n_packs += 1
                fill = 0
            fill += ntok
            max_fill = max(max_fill, fill)
            sum_tokens += ntok
            sum_chars += nchr
            bins.setdefault(pack_id, []).append(ctext)
        # pack_texts replay: each bin's member texts joined with "\n" in the
        # same order they were packed; bounded hash summed per group
        bins_hash = sum(
            xxh64("\n".join(texts).encode("utf-8")) % (1 << 40)
            for texts in bins.values()
        )
        out.append(
            (g, len(rows), n_packs, sum_tokens, max_fill, sum_chars, bins_hash)
        )
    return out


# ------------------------------------------------- duplicated spans
def _merge_positions(positions: list[int], n: int) -> list[tuple[int, int]]:
    """Merge flagged gram start positions into maximal [start, end) spans
    (each gram covers n tokens)."""
    spans = []
    for p in sorted(positions):
        if spans and p <= spans[-1][1]:
            spans[-1] = (spans[-1][0], max(spans[-1][1], p + n))
        else:
            spans.append((p, p + n))
    return spans


def replay_duplicated_span_stats(docs, n=8, min_docs=2):
    """Replay of the duplicated_span_stats query: gram hashes are
    XXH64(" ".join(lowered tokens[i:i+n])), hot grams occur in >= min_docs
    distinct docs, per-doc hot positions merge into spans; removal drops
    every non-canonical occurrence (canonical = least (doc_id, pos)).
    Rows: (doc_id, n_spans, dup_tokens, n_dup_grams, n_dropped_tokens)."""
    occ: dict[int, list[tuple]] = {}  # gh -> [(doc_id, pos)]
    for doc_id, text in docs:
        toks = tokens(text.lower())
        for i in range(max(len(toks) - n + 1, 0)):
            gh = xxh64(" ".join(toks[i : i + n]).encode("utf-8"))
            occ.setdefault(gh, []).append((doc_id, i))
    flagged: dict[int, list[int]] = {}
    doomed: dict[int, list[int]] = {}
    for gh, occs in occ.items():
        if len({d for d, _p in occs}) < min_docs:
            continue
        canon = min(occs)
        for d, p in occs:
            flagged.setdefault(d, []).append(p)
            if (d, p) != canon:
                doomed.setdefault(d, []).append(p)
    out = []
    for d in sorted(flagged):
        spans = _merge_positions(flagged[d], n)
        drop_spans = _merge_positions(doomed.get(d, []), n)
        out.append(
            (
                d,
                len(spans),
                sum(e - s for s, e in spans),
                len(flagged[d]),
                sum(e - s for s, e in drop_spans),
            )
        )
    return out


# ------------------------------------------------------------- curation
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "avec", "pour", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "con", "para", "una", "que"],
}
_PUNCT = re.compile(r"[^\w\s]", re.ASCII)


def replay_lang_id(text: str) -> str:
    toks = set(tokens(text.lower()))
    hits = {c: len(toks & set(ws)) for c, ws in sorted(_STOPWORDS.items())}
    mx = max(hits.values())
    if mx == 0:
        return "und"
    return min(c for c, h in hits.items() if h == mx)


def replay_quality(text: str) -> float:
    lt = min(len(text) / 500.0, 1.0)
    toks = tokens(text.lower())
    div = (len(set(toks)) / len(toks)) if toks else 0.0
    noise = ((len(text) - len(_PUNCT.sub("", text))) / len(text)) if text else 0.0
    return spark_round(max(0.0, min(1.0, 0.4 * lt + 0.5 * div - 0.5 * noise + 0.1)), 6)


def _replay_drop_counts(docs, n=8, min_docs=2):
    """Per-doc dropped-token counts of drop_duplicated_spans over `docs`
    [(doc_id, text)]: non-canonical occurrences of hot grams merged to
    spans (the removal half of replay_duplicated_span_stats)."""
    stats = {d: dropped for d, _ns, _dt, _ng, dropped in replay_duplicated_span_stats(docs, n, min_docs)}
    return {d: stats.get(d, 0) for d, _t in docs}


def replay_curation(doc_rows, lang="en", min_quality=0.5,
                    num_hashes=32, bands=8, shingle_n=2, threshold=0.8,
                    span_n=4, span_min_docs=2):
    """Replay of plans.curate.curate_documents with drop_spans=True (no
    sample step): returns (survivor (doc_id, source, quality,
    n_dropped_tokens) rows, near-dup drop ids) — span removal runs over
    the post-near-dup survivor population, matching the chain order."""
    gated = [
        (d, src, text)
        for d, src, text in doc_rows
        if replay_lang_id(text) == lang and replay_quality(text) >= min_quality
    ]
    # exact dedup: min id per whitespace-normalized lowered text
    byfp: dict[str, int] = {}
    for d, _src, text in gated:
        # strip(" ") not strip(): Spark's F.trim removes only ASCII spaces,
        # and the \s+ collapse runs AFTER the trim in fingerprint()
        fp = _WS.sub(" ", text.strip(" ").lower())
        if fp not in byfp or d < byfp[fp]:
            byfp[fp] = d
    keep_exact = set(byfp.values())
    survivors = [(d, src, text) for d, src, text in gated if d in keep_exact]
    clusters = replay_dedup_clusters(
        [(d, t) for d, _s, t in survivors], num_hashes, bands, shingle_n, 42, threshold
    )
    drops = sorted(d for d, rep in clusters if d != rep)
    kept = [(d, src, text) for d, src, text in survivors if d not in set(drops)]
    dropped_by_id = _replay_drop_counts(
        [(d, t) for d, _s, t in kept], span_n, span_min_docs
    )
    out = [
        (d, src, replay_quality(text), dropped_by_id[d]) for d, src, text in kept
    ]
    return sorted(out), drops


def replay_entity_pagerank(golden_edges, damping=0.85, n_iter=10):
    """Replay of the entity_pagerank query over the synthetic corpus's
    BY-CONSTRUCTION golden (subj, obj) edge set — independent of the
    engine's extraction; symmetrized, 10 damped power-iteration rounds from
    uniform init, round 6."""
    pairs = set(golden_edges)
    sym = pairs | {(b, a) for a, b in pairs}
    nodes = sorted({a for a, _b in sym})
    deg = {a: sum(1 for x, _y in sym if x == a) for a in nodes}
    n = len(nodes)
    rank = {a: 1.0 / n for a in nodes}
    for _ in range(n_iter):
        contrib = {a: 0.0 for a in nodes}
        for a, b in sorted(sym):
            contrib[b] += rank[a] / deg[a]
        rank = {a: (1.0 - damping) / n + damping * contrib[a] for a in nodes}
    return sorted((a, spark_round(r, 6)) for a, r in rank.items())


# -------------------------------------------------------------- simhash
def replay_simhash_groups(docs, bits=32, prefix_bits=10):
    from collections import Counter

    counts = Counter()
    for _doc_id, text in docs:
        toks = tokens(text.lower())
        if not toks:
            sh = 0
        else:
            hs = [xxh64(t.encode("utf-8")) for t in toks]
            sh = 0
            for b in range(bits):
                mask = 1 << b
                ones = sum(1 for h in hs if h & mask)
                if ones * 2 > len(hs):
                    sh |= mask
        # shiftrightunsigned == plain shift here: sh < 2^bits is non-negative
        counts[sh >> (bits - prefix_bits)] += 1
    return sorted((bkt, n) for bkt, n in counts.items() if n > 1)


# ------------------------------------------------------------- sign-LSH
def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _norm(a):
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def replay_ann_topk(vecs, query_vec, k=10, n_planes=8, max_hamming=2, seed=42):
    from itertools import combinations

    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(len(query_vec))] for _ in range(n_planes)]
    qbits = 0
    for i, p in enumerate(planes):
        if sum(float(a) * float(b) for a, b in zip(query_vec, p)) >= 0:
            qbits |= 1 << i
    probe = {qbits}
    for h in range(1, max_hamming + 1):
        for bits_ in combinations(range(n_planes), h):
            flip = 0
            for b in bits_:
                flip |= 1 << b
            probe.add(qbits ^ flip)
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    scored = []
    for vec_id, v in vecs:
        bucket = 0
        for i, p in enumerate(planes):
            if _dot(v, p) >= 0:
                bucket |= 1 << i
        if bucket not in probe:
            continue
        cos = _dot(v, query_vec) / (_norm(v) * qn)
        scored.append((vec_id, spark_round(cos, 6)))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


# ------------------------------------------------------ sampled-centroid IVF
def replay_ivf_blocked_pairs(vecs, threshold=0.35, n_centroids=16, n_assign=2):
    """Replay of dedup.ivf_blocked_pairs: the seeded sampled-centroid draw
    (same rank rule as replay_ivf_topk), multi-assignment to the n_assign
    max-cosine cells (ties -> lowest center index, Spark's struct order),
    exact pair cosines within cells (same left-to-right float fold as the
    operator), distinct (id_a, id_b, round-6 cosine) at >= threshold."""
    ranked = sorted(vecs, key=lambda t: (xxh64(str(t[0]).encode()) % _MERSENNE, t[0]))
    seeds = ranked[:n_centroids]
    centers = []
    for _vid, v in seeds:
        n = _norm(v)
        centers.append([x / n for x in v] if n > 0 else list(v))
    cnorms = [(_norm(c) or 1.0) for c in centers]
    cells: dict[int, list] = {}
    for vid, v in vecs:
        nrm = _norm(v)
        scored = []
        for i, c in enumerate(centers):
            cos = _dot(v, c) / (nrm * cnorms[i]) if nrm > 0 else 0.0
            scored.append((cos, -i))
        for _cos, negi in sorted(scored, reverse=True)[:n_assign]:
            cells.setdefault(-negi, []).append((vid, v, nrm))
    pairs: dict[tuple, float] = {}
    for members in cells.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                (ida, va, na), (idb, vb, nb) = ms[i], ms[j]
                cos = spark_round(_dot(va, vb) / (na * nb), 6)
                if cos >= threshold:
                    pairs[(ida, idb)] = cos
    return sorted((a, b, c) for (a, b), c in pairs.items())


def replay_ivf_topk(vecs, query_vec, k=10, n_centroids=16, n_probe=4):
    """Replay of similarity.sampled_centers + ivf_assign + ivf_probe_topk."""
    # seed selection: n_centroids ids with smallest (pmod(xxh64(str(id)), M), id)
    ranked = sorted(vecs, key=lambda t: (xxh64(str(t[0]).encode()) % _MERSENNE, t[0]))
    seeds = ranked[:n_centroids]
    centers = []
    for _vid, v in seeds:
        n = _norm(v)
        centers.append([x / n for x in v] if n > 0 else list(v))
    cnorms = [math.sqrt(sum(x * x for x in c)) or 1.0 for c in centers]
    # assignment: argmax cosine, tiebreak lowest center index
    assigned = []
    for vec_id, v in vecs:
        nrm = _norm(v)
        best = None
        for i, c in enumerate(centers):
            cos = _dot(v, c) / (nrm * cnorms[i]) if nrm > 0 else 0.0
            cand = (cos, -i)
            if best is None or cand > best:
                best = cand
        assigned.append((vec_id, v, -best[1]))
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0

    def cos_to_q(c):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)

    probe = set(sorted(range(len(centers)), key=lambda i: (-cos_to_q(centers[i]), i))[:n_probe])
    scored = [
        (vec_id, spark_round(_dot(v, query_vec) / (_norm(v) * qn), 6))
        for vec_id, v, cell in assigned
        if cell in probe
    ]
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


# ----------------------------------------------------------- multimodal
def replay_media_stats(out_w=4, out_h=4):
    """Replay of the multimodal_media_stats query from the GENERATION-side
    arrays (synth.MediaCorpus.{pixels,waveforms,videos} — known by
    construction; none of the decoders run here).  The block-average is
    re-implemented independently of operators.multimodal.resize_pixels;
    pixel/sample/plane sums are exact integers, and the audio rms uses the
    identical float op order as the operator (sqrt of int-sum / int, then
    round 6), so every value is bit-identical across implementations.
    Wide NULL-able schema: one row per decodable media, NULL for the
    columns its kind doesn't have."""
    import math

    from ontology_pipeline_spark.synth import generate_media_corpus

    c = generate_media_corpus(n_images=48, seed=11)
    kind_by_id = {r[0]: r[1] for r in c.rows}
    label_by_id = {r[0]: r[7] for r in c.rows}
    # image format from the generation-side mime (png_encode vs jpeg_encode);
    # the JPEG rows' expected pixels are the generation-side mosaic bytes —
    # bit-exact by construction (all-ones quant + solid per-MCU cells), so
    # the same stats replay covers both containers without running a decoder
    fmt_by_id = {r[0]: ("jpeg" if r[3] == "image/jpeg" else "png") for r in c.rows}
    N = None
    out = []
    for mid in sorted(c.pixels):
        w, h, ch, pix = c.pixels[mid]
        mean_all = round(sum(pix) / (w * h * ch), 6)
        mean_c0 = round(sum(pix[0::ch]) / (w * h), 6)
        rsum = 0
        for o in range(out_h):
            y0 = o * h // out_h
            y1 = max((o + 1) * h // out_h, y0 + 1)
            for p in range(out_w):
                x0 = p * w // out_w
                x1 = max((p + 1) * w // out_w, x0 + 1)
                cnt = (y1 - y0) * (x1 - x0)
                for cc in range(ch):
                    s = sum(
                        pix[(y * w + x) * ch + cc]
                        for y in range(y0, y1)
                        for x in range(x0, x1)
                    )
                    rsum += s // cnt
        resized_mean = round(rsum / (out_w * out_h * ch), 6)
        out.append(
            (mid, kind_by_id[mid], label_by_id[mid], fmt_by_id[mid], w, h, ch,
             N, N, N, mean_all, mean_c0, resized_mean, N, N, N)
        )
    for mid in sorted(c.waveforms):
        rate, ch, samples = c.waveforms[mid]
        n = len(samples)
        n_frames = n // ch
        out.append(
            (mid, kind_by_id[mid], label_by_id[mid], "wav", N, N, ch,
             rate, n_frames, n_frames * 1000 // rate, N, N, N,
             max((abs(s) for s in samples), default=0),
             round(math.sqrt(sum(s * s for s in samples) / n), 6), N)
        )
    for mid in sorted(c.videos):
        w, h, num, den, frames = c.videos[mid]
        nf = len(frames)
        ysum = sum(sum(f[: w * h]) for f in frames)
        out.append(
            (mid, kind_by_id[mid], label_by_id[mid], "y4m", w, h, N,
             N, nf, nf * 1000 * den // num, N, N, N, N, N,
             round(ysum / (nf * w * h), 6))
        )
    # round-4 ISO-BMFF metadata rows — by-construction from the SAME literal
    # track layouts the multimodal_media_stats query encodes with
    # synth.bmff_encode_meta (duration round-trips exactly: ms -> timescale
    # units floor -> ms floor is identity when timescale % 1000 == 0);
    # dims come from the first "vide" track, else the first track
    for mid, w, h, dur in (
        ("bmf000", 640, 360, 3500),
        ("bmf001", 1920, 1080, 12000),
        ("bmf002", 0, 0, 800),  # audio-only: first track is (soun, 0, 0)
    ):
        out.append(
            (mid, "video", "bmff", "isobmff", w, h, N, N, N, dur,
             N, N, N, N, N, N)
        )
    return out


# ---------------------------------------------------------------- emit
def _sql_values(rows, decls: str) -> str:
    body = ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {body}) AS g({decls})"


def _lit(v) -> str:
    if v is None:
        # bare NULL: DuckDB infers each VALUES column's type from the
        # typed CASTs the non-null rows in that column carry
        return "NULL"
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    return "'" + str(v).replace("'", "''") + "'"


def main() -> None:
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    emb = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    # float32 -> python float widening matches Spark's cast to array<double>
    vecs = [(vid, [float(x) for x in v]) for vid, v in emb]
    qv = dict(vecs)[0]  # _QUERY_VEC_ID = 0

    mh = replay_minhash_near_dups(docs)
    sh = replay_simhash_groups(docs)
    ann = replay_ann_topk(vecs, qv)
    ivf = replay_ivf_topk(vecs, qv)
    # n_assign=4: the recommended configuration (recall 0.93 vs brute at
    # t=0.35, BENCH/embedding_blocking.md) is also the gated one since r5
    ivfp = replay_ivf_blocked_pairs(vecs, n_assign=4)
    clusters = replay_dedup_clusters(docs)
    incr = replay_incremental_dedup(docs)
    n_surv = sum(1 for r in incr if r[0] == "survivor")
    print(
        f"incremental dedup: {n_surv} shard survivors, "
        f"{len(incr) - n_surv} cross pairs"
    )
    ingest = replay_ingest(docs)
    print(
        "ingest: "
        + "; ".join(
            f"{r[1]} total={r[3]} exact={r[4]} intra={r[5]} new={r[6]}"
            for r in ingest
            if r[0] == "lineage"
        )
    )
    doc_src = con.execute(
        f"SELECT doc_id, source FROM read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    hsamp = replay_hash_sample(doc_src)
    msamp = replay_mixture_sample(
        doc_src, {"src0": 1.0, "src1": 0.5, "src2": 0.2}, default_rate=0.05
    )
    sample_methods = [("hash", d, s) for d, s in hsamp] + [
        ("mixture", d, s) for d, s in msamp
    ]
    ssamp = replay_stratified_sample(doc_src)
    doc_full = con.execute(
        f"SELECT doc_id, source, text FROM read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    curated, cdrops = replay_curation(doc_full)
    print(f"curated survivors: {len(curated)}, near-dup drops: {len(cdrops)}")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ontology_pipeline_spark.synth import generate_corpus

    _c13 = generate_corpus(n_pages=200, seed=13)
    golden_edges = sorted({(s_, o_) for s_, _p, o_, _u in _c13.expected_triples})
    pr = replay_entity_pagerank(golden_edges)
    print(
        f"minhash pairs: {len(mh)}, simhash groups: {len(sh)}, ann: {len(ann)}, "
        f"ivf: {len(ivf)}, cluster rows: {len(clusters)}"
    )

    mm = replay_media_stats()
    print(f"multimodal stat rows: {len(mm)}")

    cp = replay_chunk_pack_stats(docs)
    ds = replay_duplicated_span_stats(docs)
    print(f"chunk/pack shards: {len(cp)}, span-stat docs: {len(ds)}")

    gen = {
        "multimodal_media_stats": _sql_values(
            mm,
            "media_id, kind, label, format, width, height, channels, "
            "sample_rate, n_frames, duration_ms, mean_all, mean_c0, "
            "resized_mean, peak, rms, y_mean",
        ),
        "minhash_near_dups": _sql_values(mh, "id_a, id_b, est_jaccard"),
        "simhash_bucket_groups": _sql_values(sh, "bucket, n_docs"),
        "ann_topk_q0": _sql_values(ann, "vec_id, cosine"),
        "ivf_ann_q0": _sql_values(ivf, "vec_id, cosine"),
        "ivf_blocked_close_pairs": _sql_values(ivfp, "id_a, id_b, cosine"),
        "dedup_clusters": _sql_values(clusters, "doc_id, cluster_id"),
        "incremental_dedup_probe": _sql_values(
            incr, "kind, new_id, indexed_id, est_jaccard"
        ),
        "ingest_shard_summary": _sql_values(
            ingest,
            "kind, shard_id, doc_id, total_docs, exact_survivors, "
            "intra_survivors, new_docs",
        ),
        "doc_sample_methods": _sql_values(sample_methods, "method, doc_id, source"),
        "stratified_doc_sample": _sql_values(ssamp, "source, doc_id"),
        "curated_documents": _sql_values(
            curated, "doc_id, source, quality, n_dropped_tokens"
        ),
        "entity_pagerank": _sql_values(pr, "node, rank"),
        "chunked_pack_stats": _sql_values(
            cp,
            "pack_group, n_chunks, n_packs, sum_tokens, max_fill, sum_chars, bins_hash",
        ),
        "duplicated_span_stats": _sql_values(
            ds, "doc_id, n_spans, dup_tokens, n_dup_grams, n_dropped_tokens"
        ),
    }
    with open(OUT, "w") as f:
        f.write(
            '"""GENERATED by scripts/golden_replay.py — golden VALUES oracles for\n'
            "the approximate queries, valid for the sf0.01 testdata (the scale the\n"
            "driver's correctness gate runs at).  Regenerate after changing the\n"
            'operators or the testdata.  Do not edit by hand."""\n\n'
            "GOLDEN_APPROX_SQL: dict[str, str] = {\n"
        )
        for k, v in gen.items():
            f.write(f"    {k!r}: {v!r},\n")
        f.write("}\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
