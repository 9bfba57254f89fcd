"""Deterministic synthetic page corpus — golden outputs known by construction.

Mirrors the reference's own test-fixture strategy: its end-to-end test
creates a deterministic transcript embedding ontology vocabulary in natural
sentences (reference test_simple.py:18-50).  Here a seeded generator produces
a Common-Crawl-style `pages` table (schema per BASELINE.json input_hint)
where every sentence is instantiated from a fixed template bank over the
ontology lexicon, so the expected mentions and (subj, pred, obj) triples are
known exactly — the P/R >= 0.95 gate is scored against this golden set.

Skew is built in: a small set of head entities ("Sleep Quality", "Heart Rate
Variability") appears in a large fraction of pages, exercising AQE skew
handling and salted aggregation paths exactly as 10^12-doc Common Crawl
would (a few canonical constructs dominate the co-reference graph — the
reference's own fixture shows the same shape, e.g. "Breast Cancer Risk"
appearing in many edges of data/outputs/extraction_results.json).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from dataclasses import dataclass, field

from .lexicon import ONTOLOGY_VOCAB
from .schemas import MEDIA

# Sentence templates.  Each template lists the entity classes it consumes and
# the triples it contributes, per the engine's relation rules (see
# operators/relations.py; rule vocabulary mirrors the reference's edge
# classes at streamlit_app.py:744-760 and src/extractor.py:718-755).
TEMPLATES = [
    # (template, [classes], [(subj_slot, pred, obj_slot)])
    ("I assess {0} using the {1}.", ["construct", "assessment"],
     [(1, "measures", 0)]),
    ("The {0} evaluates {1} in most clients.", ["assessment", "construct"],
     [(0, "measures", 1)]),
    ("{0} targets {1}.", ["intervention", "construct"],
     [(0, "targets", 1)]),
    ("We prescribe {0} to improve {1}.", ["intervention", "construct"],
     [(0, "targets", 1)]),
    ("The {0} informs {1}.", ["assessment", "intervention"],
     [(0, "informs", 1)]),
    ("{0} is associated with {1}.", ["construct", "construct"],
     [(0, "association", 1)]),
    # mention-only sentences (no cross-class triple rule fires)
    ("The {0} uses a {1} device and reports {2}.",
     ["assessment", "technology", "metric"], []),
    ("My practice centres on {0}.", ["domain"], []),
]

FILLER = [
    "The weather was pleasant during the interview.",
    "We scheduled a follow-up for next month.",
    "Thanks for taking the time to talk today.",
    "The clinic recently moved to a new building.",
    "Records are kept for seven years.",
]

NON_EN_FILLER = {
    "de": ["Das Wetter war angenehm.", "Wir sehen uns im April wieder."],
    "fr": ["Le temps etait agreable.", "Nous nous reverrons en avril."],
}

HEAD_ENTITIES = ["Sleep Quality", "Heart Rate Variability"]

BOILERPLATE_NAV = "Home | About | Services | Contact"
BOILERPLATE_FOOTER = "(c) 2025 Example Clinic - Privacy - Terms"


@dataclass
class Corpus:
    pages: list[tuple]  # (url, warc_ts, html, text, lang)
    expected_mentions: list[tuple]  # (url, canonical, entity_class)
    expected_triples: list[tuple]  # (subj, pred, obj, url)
    text_sha256: dict[str, str] = field(default_factory=dict)
    # same-sentence (technology, assessment) pairs — the golden for the
    # documents' used_for_assessments field (sentence-level co-occurrence)
    expected_tech_links: list[tuple] = field(default_factory=list)  # (url, tech, assessment)


def _html_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def wrap_html(title: str, paragraphs: list[str]) -> bytes:
    """Wrap extracted-text paragraphs in boilerplate the extractor must strip."""
    body = "".join(f"<p>{_html_escape(p)}</p>" for p in paragraphs)
    page = (
        "<html><head><title>"
        + _html_escape(title)
        + "</title></head><body>"
        + f"<nav>{BOILERPLATE_NAV}</nav>"
        + f"<article>{body}</article>"
        + f"<footer>{BOILERPLATE_FOOTER}</footer>"
        + "</body></html>"
    )
    return page.encode("utf-8")


def _vocab() -> dict[str, list[str]]:
    return {c: [name for name, _, _ in entries] for c, entries in ONTOLOGY_VOCAB.items()}


_BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def _gen_page(i: int, rng: random.Random, vocab: dict[str, list[str]]):
    """One page from the template bank; returns ((url, ts, html, text, lang),
    mentions, triples).  Consumes `rng` deterministically — the sequential
    generate_corpus and the per-page-seeded distributed generator share this
    exact body."""
    url = f"https://ex{i % 37}.test/p{i}"
    ts = _BASE_TS + dt.timedelta(seconds=i * 61)
    lang = "en"
    mentions, triples, tech_links = [], [], []
    if i % 13 == 12:  # deterministic ~8% negatives
        lang = "de" if i % 2 == 0 else "fr"
        sents = [rng.choice(NON_EN_FILLER[lang]) for _ in range(rng.randint(2, 4))]
        text = "\n".join(sents)
    else:
        n_sent = rng.randint(3, 10)
        sents = []
        for j in range(n_sent):
            if rng.random() < 0.25:
                sents.append(rng.choice(FILLER))
                continue
            tmpl, classes, triple_slots = rng.choice(TEMPLATES)
            names = []
            for k, cls in enumerate(classes):
                if cls == "construct" and rng.random() < 0.5:
                    # head-entity skew
                    name = rng.choice(HEAD_ENTITIES)
                else:
                    name = rng.choice(vocab[cls])
                # avoid self-loops in construct-construct sentences
                while cls == "construct" and names and names[-1] == name:
                    name = rng.choice(vocab["construct"])
                names.append(name)
            sents.append(tmpl.format(*names))
            for k, cls in enumerate(classes):
                mentions.append((url, names[k], cls))
            for s_slot, pred, o_slot in triple_slots:
                triples.append((names[s_slot], pred, names[o_slot], url))
            # same-sentence tech->assessment usage pairs (generic over the
            # template bank: any sentence mentioning both classes)
            for kt, ct in enumerate(classes):
                if ct != "technology":
                    continue
                for ka, ca in enumerate(classes):
                    if ca == "assessment":
                        tech_links.append((url, names[kt], names[ka]))
        text = "\n".join(sents)
    html = wrap_html(f"Page {i}", text.split("\n"))
    return (url, ts, html, text, lang), mentions, triples, tech_links


def generate_corpus(n_pages: int = 500, seed: int = 42) -> Corpus:
    """Seeded corpus; ~8% non-English negative pages with no ontology content."""
    rng = random.Random(seed)
    vocab = _vocab()

    pages, mentions, triples, tech_links = [], [], [], []
    hashes: dict[str, str] = {}
    for i in range(n_pages):
        page, m, t, tl = _gen_page(i, rng, vocab)
        pages.append(page)
        mentions.extend(m)
        triples.extend(t)
        tech_links.extend(tl)
        hashes[page[0]] = hashlib.sha256(page[3].encode("utf-8")).hexdigest()

    return Corpus(pages, expected_mentions=sorted(set(mentions)),
                  expected_triples=triples, text_sha256=hashes,
                  expected_tech_links=sorted(set(tech_links)))


# Names safe to misspell in the fuzzy-linking fixture: none is a substring
# of another lexicon surface, so a whole-string replacement in page text is
# unambiguous, and each misspelling is closest (by char-3-gram Jaccard) to
# its own canonical by a wide margin.
MISSPELL_TARGETS = [
    "Sleep Quality",
    "Heart Rate Variability",
    "Functional Mobility",
    "Insulin Sensitivity",
    "Muscular Power",
]


def misspell(name: str) -> str:
    """Deterministic misspelling: drop the middle character of the longest
    token ("Sleep Quality" -> "Sleep Quaity")."""
    toks = name.split(" ")
    j = max(range(len(toks)), key=lambda t: (len(toks[t]), -t))
    w = toks[j]
    toks[j] = w[: len(w) // 2] + w[len(w) // 2 + 1 :]
    return " ".join(toks)


def generate_misspelled_corpus(
    n_pages: int = 200, seed: int = 17, rate: float = 0.5
) -> tuple[Corpus, dict[str, str]]:
    """A corpus with seeded misspellings of MISSPELL_TARGETS injected into
    page text (html regenerated to match), while the GOLDEN mentions/triples
    keep the canonical names — the fixture for the fuzzy-linking ->
    canonicalization -> re-extraction flagship query: the engine must
    recover each misspelled surface back to its canonical to reproduce the
    golden triples.  Returns (corpus, {misspelled_surface: canonical})."""
    corpus = generate_corpus(n_pages, seed)
    rng = random.Random(seed * 31 + 7)
    forms = {t: misspell(t) for t in MISSPELL_TARGETS}
    injected: dict[str, str] = {}
    new_pages = []
    for url, ts, html, text, lang in corpus.pages:
        new_text = text
        for canon, bad in forms.items():
            if canon in new_text and rng.random() < rate:
                new_text = new_text.replace(canon, bad)
                injected[bad] = canon
        if new_text is not text:
            i = int(url.rsplit("p", 1)[1])
            html = wrap_html(f"Page {i}", new_text.split("\n"))
            corpus.text_sha256[url] = hashlib.sha256(new_text.encode("utf-8")).hexdigest()
        new_pages.append((url, ts, html, new_text, lang))
    corpus.pages = new_pages
    return corpus, injected


def distributed_pages(spark, n_pages: int, seed: int = 7, partitions: int | None = None):
    """Pages generated ON THE EXECUTORS — per-page seeded RNG inside
    mapInPandas, so the driver never holds the corpus.  This is the only way
    to synthesize 10^7+ pages (the sequential generator keeps pages AND the
    golden mention/triple lists in driver RAM: measured >24 GB at 10M pages)
    and the shape a real cluster-scale data generator takes.

    Content distribution matches generate_corpus (same template bank via
    _gen_page); the RNG stream differs (per-page seed vs one sequential
    stream), so goldens-by-construction apply per run, not across the two
    generators."""
    from .operators.stage import map_rows
    from .schemas import PAGES

    vocab = _vocab()
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 4

    def row(i):
        page, _m, _t, _tl = _gen_page(i, random.Random(seed * 1_000_003 + i), vocab)
        return [page]

    return map_rows(
        spark.range(n_pages, numPartitions=partitions), ["id"], PAGES, lambda: row
    )


def pages_df(spark, corpus: Corpus):
    from .schemas import PAGES

    return spark.createDataFrame(corpus.pages, schema=PAGES)


def write_corpus(
    spark, path: str, n_pages: int = 500, seed: int = 42, n_files: int | None = None
) -> Corpus:
    """Write the corpus as many small splits (default 8 per core) so readers
    get fine-grained tasks: stragglers then cost one sliver, not 1/32 of the
    job — the local analog of sizing maxPartitionBytes on a cluster."""
    if n_files is None:
        n_files = max(32, spark.sparkContext.defaultParallelism * 8)
    corpus = generate_corpus(n_pages, seed)
    pages_df(spark, corpus).repartition(n_files, "url").write.mode("overwrite").parquet(path)
    return corpus


# ---------------------------------------------------------------------------
# Multimodal: deterministic synthetic PNG corpus — pixels known by
# construction, so the golden replay can compute expected decode/resize
# stats WITHOUT running the decoder (the Spark path must then survive
# encode -> decode -> resize losslessly to match).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_TYPE_BY_CHANNELS = {1: 0, 2: 4, 3: 2, 4: 6}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_encode(
    w: int, h: int, channels: int, pix: bytes, filters: list[int] | None = None
) -> bytes:
    """Pure-stdlib PNG writer (8-bit gray/gray-alpha/RGB/RGBA, non-interlaced).
    `filters` cycles per-scanline filter types (0-4), exercising every
    unfilter path in the decoder; default all-0.  Independent of the
    operator-side decoder (separate Paeth/filter code on purpose)."""
    import zlib as _zlib

    color_type = _COLOR_TYPE_BY_CHANNELS[channels]
    stride = w * channels
    assert len(pix) == h * stride
    lines = []
    prev = bytes(stride)
    for y in range(h):
        line = pix[y * stride : (y + 1) * stride]
        ft = filters[y % len(filters)] if filters else 0
        if ft == 0:
            enc = line
        elif ft == 1:
            enc = bytes(
                (line[x] - (line[x - channels] if x >= channels else 0)) & 0xFF
                for x in range(stride)
            )
        elif ft == 2:
            enc = bytes((line[x] - prev[x]) & 0xFF for x in range(stride))
        elif ft == 3:
            enc = bytes(
                (line[x] - (((line[x - channels] if x >= channels else 0) + prev[x]) >> 1)) & 0xFF
                for x in range(stride)
            )
        elif ft == 4:
            enc = bytes(
                (
                    line[x]
                    - _paeth(
                        line[x - channels] if x >= channels else 0,
                        prev[x],
                        prev[x - channels] if x >= channels else 0,
                    )
                )
                & 0xFF
                for x in range(stride)
            )
        else:
            raise ValueError(f"bad filter {ft}")
        lines.append(bytes([ft]) + enc)
        prev = line
    raw = _zlib.compress(b"".join(lines), 6)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + _zlib.crc32(typ + data).to_bytes(4, "big")
        )

    import struct as _struct

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", raw) + chunk(b"IEND", b"")


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# fixed-length canonical Huffman tables (our choice — any DHT-declared table
# is spec-valid and the decoder is table-driven): all 12 DC size symbols at
# code length 4, all 162 baseline AC symbols at code length 8.  Neither
# assigns an all-ones code.
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_JPEG_AC_VALS.sort()
_JPEG_DC_BITS = [0] * 16
_JPEG_DC_BITS[3] = len(_JPEG_DC_VALS)  # all codes 4 bits
_JPEG_AC_BITS = [0] * 16
_JPEG_AC_BITS[7] = len(_JPEG_AC_VALS)  # all codes 8 bits


def _jpeg_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) by the T.81 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit accumulator with JPEG 0xFF00 byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        # drop emitted bits so the accumulator stays a machine int (an
        # unmasked acc grows into a bignum -> quadratic encode cost)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)

    def restart(self, idx: int) -> None:
        """Pad to a byte boundary, then emit RSTn (raw marker, unstuffed)."""
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (idx & 7)])


def _jpeg_frame(w: int, h: int, planes: list[bytes], subsampling: str):
    """Frame setup and forward DCT shared by both JPEG writers.  `planes` is
    [Y] for grayscale or [Y, Cb, Cr] at FULL resolution (each w*h bytes);
    chroma is box-averaged down for "420"/"422", then each component is
    edge-padded to whole MCUs.  Returns (factors, mcus_x, mcus_y, coefs,
    grids): the per-component (h, v) sampling factors; the MCU grid; per
    component a (blocks_y, blocks_x, 64) int array over the padded grid in
    ZIGZAG order (quant=1, ACs clamped to the baseline 10-bit categories);
    and per component its TRUE (blocks_x, blocks_y) grid (T.81 A.2.2: ceil
    dims, not the MCU-padded grid)."""
    import math

    import numpy as np

    assert subsampling in ("444", "420", "422")
    ncomp = len(planes)
    assert ncomp in (1, 3)
    for p in planes:
        assert len(p) == w * h
    if ncomp == 1:
        factors = [(1, 1)]
    elif subsampling == "444":
        factors = [(1, 1), (1, 1), (1, 1)]
    elif subsampling == "420":
        factors = [(2, 2), (1, 1), (1, 1)]
    else:
        factors = [(2, 1), (1, 1), (1, 1)]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    basis = np.empty((8, 8))
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            basis[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16.0)

    coefs, grids = [], []
    for (hi, vi), plane in zip(factors, planes):
        a = np.frombuffer(plane, dtype=np.uint8).reshape(h, w).astype(np.int64)
        if hi < hmax or vi < vmax:
            fx, fy = hmax // hi, vmax // vi
            ph, pw = -(-h // fy) * fy, -(-w // fx) * fx
            padded = a[np.minimum(np.arange(ph), h - 1)][:, np.minimum(np.arange(pw), w - 1)]
            a = (
                padded.reshape(ph // fy, fy, pw // fx, fx).sum(axis=(1, 3))
                + (fx * fy) // 2
            ) // (fx * fy)
        cw, ch_ = mcus_x * 8 * hi, mcus_y * 8 * vi
        a = a[np.minimum(np.arange(ch_), a.shape[0] - 1)][:, np.minimum(np.arange(cw), a.shape[1] - 1)]
        # two 2D matmuls per contiguous 8x8 block copy: a stacked einsum
        # picks a different BLAS kernel whose float rounding can land on the
        # other side of an np.rint .5 boundary (coefficients off by ±1)
        zz = np.empty((ch_ // 8, cw // 8, 64), dtype=np.int64)
        for by in range(ch_ // 8):
            for bx in range(cw // 8):
                block = a[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(np.float64) - 128.0
                zz[by, bx] = np.rint(basis @ block @ basis.T).astype(np.int64).reshape(64)[_JPEG_ZIGZAG]
        zz[:, :, 1:] = np.clip(zz[:, :, 1:], -1023, 1023)
        coefs.append(zz)
        true_w, true_h = -(-w * hi // hmax), -(-h * vi // vmax)
        grids.append((-(-true_w // 8), -(-true_h // 8)))
    return factors, mcus_x, mcus_y, coefs, grids


def _interleaved_blocks(wtr, factors, mcus_x, mcus_y, restart_interval, pred):
    """(ci, block_y, block_x) of every data unit of an interleaved scan, in
    MCU order.  Before each `restart_interval`-th MCU it writes RSTn and
    zeroes the DC predictors `pred` in place."""
    n_mcu = rst_idx = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                wtr.restart(rst_idx)
                rst_idx += 1
                pred[:] = [0] * len(pred)
            n_mcu += 1
            for ci, (hi, vi) in enumerate(factors):
                for by in range(vi):
                    for bx in range(hi):
                        yield ci, my * vi + by, mx * hi + bx


def _put_dc(wtr, dc_codes, diff: int) -> None:
    """One DC difference: its size category, then its magnitude bits."""
    size = diff.bit_length() if diff else 0
    wtr.put(*dc_codes[size])
    if size:
        wtr.put(diff if diff > 0 else diff + (1 << size) - 1, size)


def _put_ac(wtr, ac_codes, vals: list[int]) -> int:
    """Run-length code the ACs `vals` through their last nonzero: ZRL per 16
    zeros, then (run, size) and the magnitude bits.  Returns the number of
    trailing zeros, which the caller codes as an EOB (or an EOB run)."""
    run = 0
    for v in vals:
        if v == 0:
            run += 1
            continue
        while run > 15:
            wtr.put(*ac_codes[0xF0])
            run -= 16
        s = abs(v).bit_length()
        wtr.put(*ac_codes[(run << 4) | s])
        wtr.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    return run


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _jpeg_header(
    w: int, h: int, factors, restart_interval: int, sof: int,
    ac_bits: list[int], ac_vals: list[int],
) -> bytearray:
    """SOI, APP0, the all-ones DQT tables, SOF `sof`, the DC + given AC DHT
    tables (one pair for luma, one for chroma) and, if any, DRI."""
    ncomp = len(factors)
    out = bytearray(b"\xff\xd8")  # SOI
    out += _jpeg_seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")  # APP0
    n_qt = 1 if ncomp == 1 else 2
    for tq in range(n_qt):
        out += _jpeg_seg(0xDB, bytes([tq]) + bytes([1] * 64))  # Pq=0, all-ones
    body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci, (hi, vi) in enumerate(factors):
        body += bytes([ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1])
    out += _jpeg_seg(sof, body)
    for th in range(n_qt):
        out += _jpeg_seg(0xC4, bytes([th]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        out += _jpeg_seg(0xC4, bytes([0x10 | th]) + bytes(ac_bits) + bytes(ac_vals))
    if restart_interval:
        out += _jpeg_seg(0xDD, restart_interval.to_bytes(2, "big"))  # DRI
    return out


def _jpeg_sos(comps: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS header: component ids with their table pair, Ss/Se, Ah/Al."""
    hdr = bytes([len(comps)])
    for ci in comps:
        t = 0 if ci == 0 else 1
        hdr += bytes([ci + 1, (t << 4) | t])
    return _jpeg_seg(0xDA, hdr + bytes([ss, se, (ah << 4) | al]))


def jpeg_encode(
    w: int, h: int, planes: list[bytes], subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Pure-Python baseline JPEG writer, independent of the operator-side
    decoder (same discipline as `png_encode`/`wav_encode`/`y4m_encode`).
    `planes` is [Y] for grayscale or [Y, Cb, Cr] at FULL resolution (each
    w*h bytes); chroma is box-averaged down for "420"/"422".  Quantization
    tables are all-ones, so an image whose 8x8 blocks (16x16 / 16x8 for
    420/422) are each solid-color round-trips BIT-EXACTLY through any
    conforming decoder: a solid block has only a DC coefficient, which
    quant=1 stores exactly.  Huffman tables are fixed-length canonical
    (declared in DHT, so any table-driven decoder reads them).  One
    interleaved scan over the `_jpeg_frame` coefficient grids."""
    factors, mcus_x, mcus_y, coefs, _ = _jpeg_frame(w, h, planes, subsampling)
    dc_codes = _jpeg_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    wtr = _JpegBitWriter()
    pred = [0] * len(factors)
    for ci, by, bx in _interleaved_blocks(wtr, factors, mcus_x, mcus_y, restart_interval, pred):
        blk = coefs[ci][by, bx]
        dc = int(blk[0])
        _put_dc(wtr, dc_codes, dc - pred[ci])
        pred[ci] = dc
        if _put_ac(wtr, ac_codes, blk[1:].tolist()):
            wtr.put(*ac_codes[0x00])  # EOB
    out = _jpeg_header(w, h, factors, restart_interval, 0xC0, _JPEG_AC_BITS, _JPEG_AC_VALS)
    out += _jpeg_sos(list(range(len(factors))), 0, 63, 0, 0)
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# progressive AC table: the 162 baseline symbols plus the EOBn run-length
# symbols ((n << 4) | 0, n=1..14) progressive scans need — 176 codes, all
# 8 bits, no all-ones code (max code 175)
_JPEG_ACP_VALS = sorted(_JPEG_AC_VALS + [(n << 4) for n in range(1, 15)])
_JPEG_ACP_BITS = [0] * 16
_JPEG_ACP_BITS[7] = len(_JPEG_ACP_VALS)


def jpeg_encode_progressive(
    w: int, h: int, planes: list[bytes], subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Pure-Python PROGRESSIVE (SOF2) JPEG writer, independent of the
    operator-side decoder (same encoder-vs-decoder discipline as
    `jpeg_encode`).  It codes the same `_jpeg_frame` coefficient grids as
    `jpeg_encode` (one subsample/pad, DCT, quantization and clamp path), so
    a baseline and a progressive encode of the same planes carry IDENTICAL
    coefficients and any conforming decoder yields bit-identical pixels for
    both.  Scan script (exercises every T.81 G.2 scan kind):

        1. DC first, all components interleaved, Al=1
        2. AC first   comp0  Ss=1  Se=5   Al=2
        3. AC first   comp0  Ss=6  Se=63  Al=2
        4. AC first   comp1  Ss=1  Se=63  Al=1      (color only)
        5. AC first   comp2  Ss=1  Se=63  Al=1      (color only)
        6. DC refine, all components interleaved, Ah=1 Al=0
        7. AC refine  comp0  Ss=1  Se=63  Ah=2 Al=1
        8. AC refine  comp0  Ss=1  Se=63  Ah=1 Al=0
        9. AC refine  comp1  Ss=1  Se=63  Ah=1 Al=0 (color only)
       10. AC refine  comp2  Ss=1  Se=63  Ah=1 Al=0 (color only)

    i.e. spectral selection, successive approximation, EOB runs, ZRL and
    refinement correction bits all appear in the stream.  DHT declares the
    same fixed-length canonical tables plus the EOBn symbols."""
    factors, mcus_x, mcus_y, coefs, grids = _jpeg_frame(w, h, planes, subsampling)
    ncomp = len(factors)
    dc_codes = _jpeg_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_codes(_JPEG_ACP_BITS, _JPEG_ACP_VALS)

    def dc_scan(wtr, ah, al):
        """Interleaved DC scan over the full MCU grid."""
        pred = [0] * ncomp
        for ci, by, bx in _interleaved_blocks(wtr, factors, mcus_x, mcus_y, restart_interval, pred):
            dc = int(coefs[ci][by, bx, 0])
            if ah == 0:
                t = dc >> al  # T.81: DC point transform is >>
                _put_dc(wtr, dc_codes, t - pred[ci])
                pred[ci] = t
            else:
                wtr.put((dc >> al) & 1, 1)

    def ac_scan(wtr, ci, ss, se, ah, al):
        """Non-interleaved AC scan over component ci's TRUE block grid."""
        bw, bh = grids[ci]
        arr = coefs[ci]
        eobrun = 0
        # correction bits attached to the pending EOB run (emitted right
        # after the EOBn symbol); bits buffered WITHIN a block since its
        # last emitted symbol live in the block-local `cur` list instead —
        # the decoder reads those after that symbol, not after an EOBn
        eob_bits: list[int] = []

        def flush_eob():
            nonlocal eobrun, eob_bits
            if eobrun:
                nbits = eobrun.bit_length() - 1
                wtr.put(*ac_codes[nbits << 4])
                if nbits:
                    wtr.put(eobrun & ((1 << nbits) - 1), nbits)
                for bit in eob_bits:
                    wtr.put(bit, 1)
            eobrun = 0
            eob_bits = []

        rst_idx = 0
        for u in range(bw * bh):
            if restart_interval and u and u % restart_interval == 0:
                flush_eob()
                wtr.restart(rst_idx)
                rst_idx += 1
            blk = arr[u // bw, u % bw]
            if ah == 0:  # AC first: sign-preserving point transform |v| >> Al
                vals = []
                for k in range(ss, se + 1):
                    v = int(blk[k])
                    a = abs(v) >> al
                    vals.append(a if v >= 0 else -a)
                if any(vals):
                    flush_eob()
                    if not _put_ac(wtr, ac_codes, vals):
                        continue
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
            else:  # AC refinement (T.81 G.1.2.3 / the libjpeg jcphuff shape)
                absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
                eob = 0  # 1 + index of the last NEWLY-significant coefficient
                for idx, a in enumerate(absv):
                    if a == 1:
                        eob = idx + 1
                run = 0
                cur: list[int] = []  # this block's bits since its last symbol
                for idx, a in enumerate(absv):
                    if a == 0:
                        run += 1
                        continue
                    while run > 15 and idx < eob:
                        flush_eob()
                        wtr.put(*ac_codes[0xF0])
                        run -= 16
                        for bit in cur:
                            wtr.put(bit, 1)
                        cur = []
                    if a > 1:  # history-nonzero: buffer its correction bit
                        cur.append(a & 1)
                        continue
                    flush_eob()  # newly significant: (run, 1) + sign bit
                    wtr.put(*ac_codes[(run << 4) | 1])
                    wtr.put(1 if int(blk[ss + idx]) > 0 else 0, 1)
                    for bit in cur:
                        wtr.put(bit, 1)
                    cur = []
                    run = 0
                if run > 0 or cur:
                    eobrun += 1
                    eob_bits.extend(cur)
                    if eobrun == 0x7FFF or len(eob_bits) > 900:
                        flush_eob()
        flush_eob()

    # the scan script above as (components, Ss, Se, Ah, Al)
    allc, chroma = list(range(ncomp)), range(1, ncomp)
    script = (
        [(allc, 0, 0, 0, 1), ([0], 1, 5, 0, 2), ([0], 6, 63, 0, 2)]
        + [([c], 1, 63, 0, 1) for c in chroma]
        + [(allc, 0, 0, 1, 0), ([0], 1, 63, 2, 1), ([0], 1, 63, 1, 0)]
        + [([c], 1, 63, 1, 0) for c in chroma]
    )
    out = _jpeg_header(w, h, factors, restart_interval, 0xC2, _JPEG_ACP_BITS, _JPEG_ACP_VALS)
    for comps, ss, se, ah, al in script:
        out += _jpeg_sos(comps, ss, se, ah, al)
        wtr = _JpegBitWriter()
        if ss == 0:
            dc_scan(wtr, ah, al)
        else:
            ac_scan(wtr, comps[0], ss, se, ah, al)
        out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def wav_encode(sample_rate: int, channels: int, samples: list[int]) -> bytes:
    """Pure-stdlib 16-bit PCM WAV writer (RIFF/WAVE/fmt/data), independent of
    the operator-side decoder.  `samples` are interleaved int16 frames."""
    import struct as _struct

    data = _struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * channels * 2
    fmt = _struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", len(data)) + data
    return b"RIFF" + _struct.pack("<I", len(body)) + body


def y4m_encode(
    w: int, h: int, fps_num: int, fps_den: int, frames: list[bytes]
) -> bytes:
    """Pure-stdlib YUV4MPEG2 (Y4M) writer, C444 colorspace: the plain-text
    stream header, then `FRAME\\n` + the three full-resolution planes
    (Y, U, V — each w*h bytes) per frame.  Independent of the operator-side
    decoder on purpose (same discipline as `png_encode`/`wav_encode`)."""
    header = f"YUV4MPEG2 W{w} H{h} F{fps_num}:{fps_den} Ip A1:1 C444\n".encode("ascii")
    for f in frames:
        assert len(f) == 3 * w * h
    return header + b"".join(b"FRAME\n" + f for f in frames)


def bmff_encode_meta(
    duration_ms: int = 3500,
    timescale: int = 1000,
    tracks: list[tuple[str, str, int, int]] | None = None,
    major_brand: bytes = b"isom",
) -> bytes:
    """Pure-stdlib ISO-BMFF METADATA writer: ftyp + moov(mvhd + one trak per
    (handler, codec_fourcc, width, height)) + empty mdat — a spec-valid box
    tree with no coded samples, enough to exercise the moov/mvhd/trak/stsd
    walk in operators/multimodal.bmff_metadata independently of it (same
    encoder-vs-decoder discipline as png/jpeg/wav/y4m_encode)."""
    if tracks is None:
        tracks = [("vide", "avc1", 640, 360), ("soun", "mp4a", 0, 0)]

    def box(t: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + t + body

    def u32(v: int) -> bytes:
        return v.to_bytes(4, "big")

    unity = (
        u32(0x00010000) + u32(0) + u32(0)
        + u32(0) + u32(0x00010000) + u32(0)
        + u32(0) + u32(0) + u32(0x40000000)
    )
    duration = duration_ms * timescale // 1000
    mvhd = box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + u32(0) + u32(0)  # creation/modification
        + u32(timescale) + u32(duration)
        + u32(0x00010000) + (0x0100).to_bytes(2, "big") + bytes(10)
        + unity + bytes(24) + u32(len(tracks) + 1),
    )
    trak_boxes = b""
    for idx, (handler, codec, w, h) in enumerate(tracks):
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07"  # version 0, flags enabled|in-movie|preview
            + u32(0) + u32(0) + u32(idx + 1) + u32(0) + u32(duration)
            + bytes(8) + bytes(2) * 4 + unity
            + u32(w << 16) + u32(h << 16),
        )
        mdhd = box(
            b"mdhd",
            bytes(4) + u32(0) + u32(0) + u32(timescale) + u32(duration)
            + (0x55C4).to_bytes(2, "big") + bytes(2),  # lang "und"
        )
        hdlr = box(
            b"hdlr",
            bytes(4) + bytes(4) + handler.encode("ascii") + bytes(12) + b"\x00",
        )
        entry = (16).to_bytes(4, "big") + codec.encode("ascii") + bytes(6) + (1).to_bytes(2, "big")
        stsd = box(b"stsd", bytes(4) + u32(1) + entry)
        stbl = box(b"stbl", stsd)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", mdhd + hdlr + minf)
        trak_boxes += box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak_boxes)
    ftyp = box(b"ftyp", major_brand + u32(0) + b"isomavc1")
    return ftyp + moov + box(b"mdat", b"")


VIDEO_MOTIONS = ["pan", "blink", "noise"]


def generate_video_frames(
    i: int, rng: random.Random
) -> tuple[int, int, int, int, list[bytes]]:
    """Deterministic C444 plane content for video row i: (width, height,
    fps_num, fps_den, frames) with integer-exact byte values, so replay-side
    frame stats are computed from these arrays without running the decoder."""
    w, h = rng.randint(6, 16), rng.randint(6, 16)
    fps_num, fps_den = [(25, 1), (30, 1), (24, 1)][i % 3]
    n_frames = rng.randint(5, 24)
    motion = VIDEO_MOTIONS[i % len(VIDEO_MOTIONS)]
    frames: list[bytes] = []
    for f in range(n_frames):
        planes = bytearray()
        for plane in range(3):
            for y in range(h):
                for x in range(w):
                    if motion == "pan":
                        v = (x * 255 // max(w - 1, 1) + 11 * f + 23 * plane + 3 * y) % 256
                    elif motion == "blink":
                        v = 240 if (f + plane) % 2 == 0 else 16
                    else:
                        v = rng.randrange(256)
                    planes.append(v)
        frames.append(bytes(planes))
    return w, h, fps_num, fps_den, frames


AUDIO_WAVEFORMS = ["triangle", "square", "noise"]


def generate_audio_samples(i: int, rng: random.Random) -> tuple[int, int, list[int]]:
    """Deterministic integer waveform for audio row i: (rate, channels,
    interleaved samples).  Integer-exact so replay stats need no float
    reconstruction of the synthesis."""
    rate = [8000, 11025, 16000][i % 3]
    ch = 1 + (i % 2)
    n_frames = rng.randint(200, 900)
    kind = AUDIO_WAVEFORMS[i % len(AUDIO_WAVEFORMS)]
    period = 20 + 7 * (i % 5)
    samples: list[int] = []
    for t in range(n_frames):
        for c in range(ch):
            if kind == "triangle":
                phase = (t + 3 * c) % period
                v = (abs(2 * phase - period) * 30000 // period) - 15000
            elif kind == "square":
                v = 12000 if ((t + c) // period) % 2 == 0 else -12000
            else:
                v = rng.randrange(-20000, 20001)
            samples.append(v)
    return rate, ch, samples


def _audio_row(mid: str, j: int, rng: random.Random) -> tuple[tuple, tuple[int, int, list[int]]]:
    """(media row, (rate, channels, samples)) of synthetic audio ordinal j."""
    rate, ch, samples = generate_audio_samples(j, rng)
    row = (
        mid,
        "audio",
        wav_encode(rate, ch, samples),
        "audio/wav",
        None,
        None,
        len(samples) // ch * 1000 // rate,
        AUDIO_WAVEFORMS[j % len(AUDIO_WAVEFORMS)],
    )
    return row, (rate, ch, samples)


def _video_row(mid: str, j: int, rng: random.Random) -> tuple[tuple, tuple]:
    """(media row, (width, height, fps_num, fps_den, frames)) of synthetic
    video ordinal j."""
    w, h, num, den, frames = generate_video_frames(j, rng)
    row = (
        mid,
        "video",
        y4m_encode(w, h, num, den, frames),
        "video/x-yuv4mpeg",
        w,
        h,
        len(frames) * 1000 * den // num,
        VIDEO_MOTIONS[j % len(VIDEO_MOTIONS)],
    )
    return row, (w, h, num, den, frames)


MEDIA_LABELS = ["gradient", "checker", "noise"]


def _png_pixels(label: str, ch: int, w: int, h: int, rng: random.Random) -> bytes:
    """Row-major interleaved samples of one synthetic image: a gradient, a
    2x2 checker, or noise drawn from `rng` (one draw per sample)."""
    pix = bytearray()
    for y in range(h):
        for x in range(w):
            for c in range(ch):
                if label == "gradient":
                    v = (x * 255 // max(w - 1, 1) + 37 * c + 3 * y) % 256
                elif label == "checker":
                    v = 255 if (x // 2 + y // 2 + c) % 2 == 0 else 13
                else:
                    v = rng.randrange(256)
                pix.append(v)
    return bytes(pix)


@dataclass
class MediaCorpus:
    # (media_id, kind, payload, mime, width, height, duration_ms, label)
    rows: list[tuple]
    # media_id -> (width, height, channels, raw samples) for image rows
    pixels: dict[str, tuple[int, int, int, bytes]] = field(default_factory=dict)
    # media_id -> (sample_rate, channels, interleaved int16 samples) for audio
    waveforms: dict[str, tuple[int, int, list[int]]] = field(default_factory=dict)
    # media_id -> (width, height, fps_num, fps_den, C444 frames) for video
    videos: dict[str, tuple[int, int, int, int, list[bytes]]] = field(default_factory=dict)


def generate_media_corpus(
    n_images: int = 48, seed: int = 11, n_audio: int = 9, n_video: int = 6,
    n_jpeg: int = 12, n_jpeg_prog: int = 6,
) -> MediaCorpus:
    """Seeded media table: PNGs of varied size (5-24 px, deliberately NOT
    multiples of the thumbnail dims so resize bins are uneven), channel
    layout cycling gray/RGB/RGBA/gray-alpha, per-row filter types cycling
    0-4, three content labels; PCM WAV audio rows; Y4M C444 video rows —
    plus negative rows (garbage 'image' bytes, fake audio/video containers,
    NULL payload) so the decode paths' never-raise contract is exercised in
    every query run."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    pixels: dict[str, tuple[int, int, int, bytes]] = {}
    for i in range(n_images):
        label = MEDIA_LABELS[i % len(MEDIA_LABELS)]
        ch = [1, 3, 4, 2][i % 4]
        w, h = rng.randint(5, 24), rng.randint(5, 24)
        pix = _png_pixels(label, ch, w, h, rng)
        mid = f"img{i:03d}"
        payload = png_encode(w, h, ch, pix, filters=[(i + k) % 5 for k in range(5)])
        rows.append((mid, "image", payload, "image/png", w, h, None, label))
        pixels[mid] = (w, h, ch, pix)
    waveforms: dict[str, tuple[int, int, list[int]]] = {}
    for i in range(n_audio):
        mid = f"wav{i:03d}"
        row, waveforms[mid] = _audio_row(mid, i, rng)
        rows.append(row)
    # videos draw from `rng` AFTER images and audio: appending a media kind
    # at the end of the stream keeps the pixel/waveform goldens bit-identical
    videos: dict[str, tuple[int, int, int, int, list[bytes]]] = {}
    for i in range(n_video):
        mid = f"y4m{i:03d}"
        row, videos[mid] = _video_row(mid, i, rng)
        rows.append(row)
    # JPEG mosaic rows draw from `rng` AFTER images/audio/video (same
    # append-only discipline: earlier goldens stay bit-identical).  Each
    # mosaic cell spans exactly one MCU (8x8 for 4:4:4 and grayscale, 16x16
    # for 4:2:0, 16x8 for 4:2:2) and is solid-color, so with the all-ones
    # quant tables the encode -> decode round trip is BIT-EXACT (solid block
    # = DC-only) and the expected decoded pixels are computed here from the
    # cell YCbCr via the public JFIF formula — independently of the
    # operator-side decoder.
    jfif = (1.402, 0.344136, 0.714136, 1.772)
    # round 5: a second batch of mosaic rows encoded PROGRESSIVE (SOF2,
    # `jpeg_encode_progressive`'s full 10-scan script) — same solid-cell
    # construction, so the expected pixels are identical by-construction
    # math and the driver query value-checks the multi-scan entropy path.
    # Drawn from `rng` after the baseline batch (append-only discipline).
    batches = [(n_jpeg, "jpg", jpeg_encode, 0)]
    if n_jpeg_prog:
        # restart_interval=2 on the progressive batch also exercises the
        # per-scan restart resets (DC predictors + EOB runs)
        batches.append((n_jpeg_prog, "jpp", jpeg_encode_progressive, 2))
    for n_batch, prefix, encode, ri in batches:
        for i in range(n_batch):
            label = MEDIA_LABELS[i % len(MEDIA_LABELS)]
            mode, sub = [("gray", "444"), ("color", "444"), ("color", "420"), ("color", "422")][i % 4]
            w, h = rng.randint(10, 40), rng.randint(10, 40)
            cell_w, cell_h = {"444": (8, 8), "420": (16, 16), "422": (16, 8)}[sub]
            ncx, ncy = -(-w // cell_w), -(-h // cell_h)
            cells = {}
            for cy in range(ncy):
                for cx in range(ncx):
                    if label == "gradient":
                        yv = (cx * 255 // max(ncx - 1, 1) + 5 * cy) % 256
                        cb, cr = (40 + 37 * cx) % 256, (60 + 53 * cy) % 256
                    elif label == "checker":
                        yv = 230 if (cx + cy) % 2 == 0 else 25
                        cb, cr = (190, 70) if (cx + cy) % 2 == 0 else (70, 190)
                    else:
                        yv, cb, cr = rng.randrange(256), rng.randrange(256), rng.randrange(256)
                    cells[(cx, cy)] = (yv, cb, cr)
            yp, cbp, crp = bytearray(w * h), bytearray(w * h), bytearray(w * h)
            for y in range(h):
                for x in range(w):
                    yv, cb, cr = cells[(x // cell_w, y // cell_h)]
                    yp[y * w + x], cbp[y * w + x], crp[y * w + x] = yv, cb, cr
            mid = f"{prefix}{i:03d}"
            if mode == "gray":
                payload = encode(w, h, [bytes(yp)], restart_interval=ri)
                pixels[mid] = (w, h, 1, bytes(yp))
            else:
                payload = encode(
                    w, h, [bytes(yp), bytes(cbp), bytes(crp)],
                    subsampling=sub, restart_interval=ri,
                )
                rgb = bytearray(w * h * 3)
                kr, kgb, kgr, kb = jfif
                for y in range(h):
                    for x in range(w):
                        yv, cb, cr = cells[(x // cell_w, y // cell_h)]
                        for c, val in enumerate(
                            (
                                yv + kr * (cr - 128),
                                yv - kgb * (cb - 128) - kgr * (cr - 128),
                                yv + kb * (cb - 128),
                            )
                        ):
                            rgb[(y * w + x) * 3 + c] = min(255, max(0, round(val)))
                pixels[mid] = (w, h, 3, bytes(rgb))
            rows.append((mid, "image", payload, "image/jpeg", w, h, None, label))
    rows.append(("bad000", "image", b"not a png at all", "image/png", None, None, None, "garbage"))
    rows.append(("bad002", "image", b"\xff\xd8\xff\xdbtruncated jpeg", "image/jpeg", None, None, None, "garbage"))
    rows.append(("bad001", "image", _PNG_SIG + b"\x00\x00truncated", "image/png", None, None, None, "garbage"))
    rows.append(("aud000", "audio", b"RIFF fake wave bytes", "audio/wav", None, None, 2500, "audio"))
    rows.append(("vid000", "video", b"\x00\x00ftyp fake", "video/mp4", 640, 480, 3500, "video"))
    rows.append(("nul000", "image", None, "image/png", None, None, None, "null"))
    return MediaCorpus(rows=rows, pixels=pixels, waveforms=waveforms, videos=videos)


def distributed_media(
    spark,
    n_media: int,
    seed: int = 19,
    partitions: int | None = None,
    kinds: tuple[str, ...] = ("image",),
):
    """Media generated ON THE EXECUTORS — per-id seeded RNG inside
    mapInPandas (the multimodal analog of `distributed_pages`): the driver
    never holds a payload, so corpus size is bounded by cluster storage,
    not driver RAM.  Content distribution matches `generate_media_corpus`'s
    rows per kind (image: labels x channel layouts x 5-24 px sizes x filter
    cycling; audio: `generate_audio_samples`; video:
    `generate_video_frames`); the RNG stream differs (per-id seed vs one
    sequential stream), so per-corpus goldens apply per generator, same
    caveat as pages.  `kinds` cycles by row id — default image-only
    preserves the original corpus byte-for-byte."""
    from .operators.stage import map_rows

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 4

    def row(i):
        rng = random.Random(seed * 1_000_003 + i)
        # j = dense per-kind ordinal: kinds cycle by row id, so content
        # selectors must NOT reuse i (every selector table has length 3/4
        # and would alias with a 3-kind cycle, collapsing each kind to one
        # label/waveform/motion).  With the default single-kind tuple
        # j == i, preserving the original corpus byte-for-byte.
        kind = kinds[i % len(kinds)]
        j = i // len(kinds)
        if kind == "audio":
            return [_audio_row(f"wav{i:09d}", j, rng)[0]]
        if kind == "video":
            return [_video_row(f"y4m{i:09d}", j, rng)[0]]
        label = MEDIA_LABELS[j % len(MEDIA_LABELS)]
        ch = [1, 3, 4, 2][j % 4]
        w, h = rng.randint(5, 24), rng.randint(5, 24)
        pix = _png_pixels(label, ch, w, h, rng)
        payload = png_encode(w, h, ch, pix, filters=[(i + k) % 5 for k in range(5)])
        return [(f"img{i:09d}", "image", payload, "image/png", w, h, None, label)]

    return map_rows(spark.range(n_media, numPartitions=partitions), ["id"], MEDIA, lambda: row)


def media_df(spark, corpus: MediaCorpus):
    return spark.createDataFrame(corpus.rows, schema=MEDIA)


# Bump when generation changes (templates, vocabulary, skew profile): the
# bench corpus cache key includes it, so stale cached corpora are never
# silently reused across generator versions.
SYNTH_VERSION = 1


def corpus_cache_path(root: str, n_pages: int, seed: int) -> str:
    import os

    return os.path.join(root, ".bench_data", f"pages_v{SYNTH_VERSION}_n{n_pages}_s{seed}")


def ensure_cached_corpus(spark, root: str, n_pages: int, seed: int) -> str:
    """Generate the bench corpus once per (version, size, seed); plain
    os.path check — no Spark job just to probe existence.  The _SUCCESS
    marker gates reuse: a directory from an interrupted write must be
    regenerated, never silently benchmarked as the full corpus."""
    import os

    path = corpus_cache_path(root, n_pages, seed)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_corpus(spark, path, n_pages=n_pages, seed=seed)
    return path
