"""Seeded benchmark inputs and their oracle expectations.

Each workload is one generator of a transcript table
``(conv_id, turn_idx, role, text, tool, ts)`` built from ``fixtures.gen``
pieces. The engine only ever sees the parquet files this module writes.

A cache entry holds two parts: ``timed``, the input the measured job
reads, and ``warm``, a small input of the same shape from an unrelated
seed stream that the session's warm-up extraction reads. Sharing no
payloads, the warm-up cannot prime a cache the timed job would then
hit. Beside the timed input sit the oracle's expected output per
distinct ``(conv_id, turn_idx)`` key (``oracle.extractor.extract_payload``)
and a manifest with the planted malformed-payload keys and the
duplicate count. Entries are
keyed by workload, seed, and a hash of this file, ``fixtures/gen.py``
and ``oracle/``, so a change to any generator or to the oracle mints
fresh inputs.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import shutil
import time
import zipfile
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager
from datetime import timedelta
from multiprocessing import get_context, resource_tracker
from pathlib import Path

import pandas as pd

from fixtures import gen

ROOT = Path(__file__).resolve().parent.parent

# Sized so that one run of either workload — session start, warm-ups,
# the timed jobs and their output checks — takes about a minute on a
# 4-core host, where one job takes 15-20 s; see BENCHMARK.json for why
# each workload exists. Each size is (timed, warm). The warm part feeds
# both warm-ups: the session's warm-up extraction (at most 64 rows per
# core) and the small untimed job before the timed ones.
CHAT_TURNS = (5000, 256)
CHAT_CONVS = 100
CHAT_DUP_FRAC = 0.05
DOC_LARGE = (100, 8)    # PDFs, and as many HTML pages
DOC_CONVS = 40
WARM_SEED_OFFSET = 1 << 31

# FIXTURES.md §3 malformed payloads that gen_transcripts plants: a PDF
# and an office payload whose base64 does not decode, and a zip that is
# not an OOXML document. Each must come back as status='error'.
_FIXTURE_MALFORMED_LITERALS = ("JVBE" + "RiBicm9rZW4",
                               "UEsDB" + "%%not-base64%%")


class _FixedClock:
    """Stand-in for the ``time`` module inside ``zipfile``: zip entries
    carry the wall-clock time they were written, so without this the
    OOXML payloads (and the inputs holding them) would differ between
    two runs with the same seed."""

    @staticmethod
    def time() -> float:
        return 1767225600.0  # 2026-01-01T00:00:00Z

    @staticmethod
    def localtime(secs: float | None = None) -> time.struct_time:
        return time.gmtime(_FixedClock.time() if secs is None else secs)


@contextmanager
def _deterministic_zips():
    real = zipfile.time
    zipfile.time = _FixedClock
    try:
        yield
    finally:
        zipfile.time = real


def _fixture_malformed() -> set[str]:
    return set(_FIXTURE_MALFORMED_LITERALS) | {
        gen._ooxml_zip({"other/thing.xml": "<x/>"})}


def _shuffled(rows: list[dict], rng: random.Random) -> pd.DataFrame:
    rng.shuffle(rows)
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # Spark's parquet reader rejects TIMESTAMP(NANOS)
    df["ts"] = df["ts"].astype("datetime64[us, UTC]")
    return df


def gen_chat_mix(seed: int, turns: int) -> tuple[pd.DataFrame, int, list]:
    """Many short turns in the FIXTURES mix (62% plain, 24% HTML, 5% PDF,
    9% OOXML), conv-0 holding ~20% of the turns, shuffled, with the
    FIXTURES §3 edge cases; ~5% of turns replayed as exact duplicates.
    Returns the table, the number of duplicate rows and the planted
    malformed keys."""
    base = gen.gen_transcripts(n_turns=turns, n_convs=CHAT_CONVS, seed=seed)
    rng = random.Random(f"chat_mix/{seed}")
    rows = base.to_dict("records")
    replays = rng.sample(range(len(rows)), round(CHAT_DUP_FRAC * len(rows)))
    rows += [dict(rows[i]) for i in replays]
    keys = {(r["conv_id"], r["turn_idx"]) for r in rows}
    bad = _fixture_malformed()
    planted = {(r["conv_id"], int(r["turn_idx"])) for r in rows
               if r["text"] in bad}
    return _shuffled(rows, rng), len(rows) - len(keys), sorted(planted)


def _long_pdf(rng: random.Random) -> str:
    words = gen._LATIN_WORDS
    pages = []
    for _ in range(rng.randint(10, 40)):
        lines = []
        for _ in range(rng.randint(20, 40)):
            line = " ".join(rng.choice(words)
                            for _ in range(rng.randint(5, 10)))
            if rng.random() < 0.1:
                line += r" (nested) and \slash"
            lines.append(line)
        pages.append(lines)
    pdf = gen.build_pdf(pages, rng, flate=rng.random() < 0.5)
    return base64.b64encode(pdf).decode("ascii")


def _long_html(rng: random.Random) -> str:
    """A gen_html page whose article is padded with long main-content
    paragraphs until the page is 30–120 KB."""
    target = rng.randint(30, 120) * 1024
    page = gen.gen_html(rng)
    head, tail = page.split("</article>", 1)
    blocks = []
    size = len(page)
    while size < target:
        block = "<p>" + " ".join(gen.gen_plain(rng) for _ in range(4)) \
            + "</p>"
        blocks.append(block)
        size += len(block)
    return head + "".join(blocks) + "</article>" + tail


def _office(rng: random.Random) -> str:
    maker = rng.choice((gen.gen_docx_payload, gen.gen_xlsx_payload,
                        gen.gen_pptx_payload))
    return maker(rng)


def _malformed(rng: random.Random) -> list[str]:
    """One payload per failure kind the engine must turn into an error
    row: bad base64 behind PDF and zip magic, base64 that decodes to
    neither magic, a truncated zip, and a zip without OOXML parts."""
    good_zip = base64.b64decode(gen.gen_docx_payload(rng))
    return [
        _long_pdf(rng)[:4097],                       # base64 cut mid-quad
        base64.b64encode(b"%PDX-" + rng.randbytes(64)).decode(),
        "UEsDB" + "%%" + rng.randbytes(8).hex(),
        base64.b64encode(good_zip[:len(good_zip) // 2]).decode(),
        gen._ooxml_zip({"misc/readme.xml": "<r/>"}),
        base64.b64encode(b"PK\x03\x04" + rng.randbytes(256)).decode(),
    ]


def gen_doc_heavy(seed: int, large: int) -> tuple[pd.DataFrame, int, list]:
    """Few large payloads — 10–40 page PDFs, 30–120 KB HTML pages, OOXML
    documents with several sheets or slides — plus a few malformed ones
    and a few short plain-text turns, as the user's side of such a
    conversation. ``large`` is the number of PDFs, and of HTML pages.
    No duplicates."""
    rng = random.Random(f"doc_heavy/{seed}")
    payloads = ([(_long_pdf(rng), False) for _ in range(large)]
                + [(_long_html(rng), False) for _ in range(large)]
                + [(_office(rng), False) for _ in range(large * 2 // 5)]
                + [(gen.gen_plain(rng), False) for _ in range(large // 4)]
                + [(p, True) for p in _malformed(rng)])
    rng.shuffle(payloads)
    rows, planted = [], []
    for i, (text, bad) in enumerate(payloads):
        turn = i // DOC_CONVS
        role = gen.ROLES[turn % 3]
        rows.append({
            "conv_id": f"conv-{i % DOC_CONVS}", "turn_idx": turn,
            "role": role, "text": text,
            "tool": rng.choice(gen.TOOLS) if role == "tool" else None,
            "ts": gen.BASE_TS + timedelta(minutes=turn),
        })
        if bad:
            planted.append((f"conv-{i % DOC_CONVS}", turn))
    return _shuffled(rows, rng), 0, sorted(planted)


GENERATORS = {"chat_mix": (gen_chat_mix, CHAT_TURNS),
              "doc_heavy": (gen_doc_heavy, DOC_LARGE)}
PARTS = ("timed", "warm")


def generate(workload: str, seed: int, part: str = "timed"
             ) -> tuple[pd.DataFrame, int, list]:
    """The input table of one part of a workload, its duplicate-row
    count and the keys of the payloads it planted as malformed."""
    fn, sizes = GENERATORS[workload]
    seed %= WARM_SEED_OFFSET  # numpy's generators take no negative seed
    if part == "warm":
        seed += WARM_SEED_OFFSET
    with _deterministic_zips():
        return fn(seed, sizes[PARTS.index(part)])


def source_hash() -> str:
    h = hashlib.sha256()
    files = [Path(__file__), ROOT / "fixtures" / "gen.py",
             *sorted((ROOT / "oracle").glob("*.py"))]
    for f in files:
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _oracle_rows(payloads: list[str]) -> list[tuple[str, str, str]]:
    from oracle.extractor import extract_payload
    out = []
    for p in payloads:
        r = extract_payload(p)
        out.append((r["content_type"], r["extracted_text"], r["status"]))
    return out


def expected_outputs(df: pd.DataFrame, mapper=map,
                     workers: int = 1) -> pd.DataFrame:
    """Oracle output per distinct key (first copy wins, as in the job),
    computed in ``workers`` chunks through ``mapper`` (``map`` or a
    process pool's ``map``)."""
    first = df.drop_duplicates(["conv_id", "turn_idx"]) \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    payloads = list(first["text"])
    chunks = [payloads[i::workers] for i in range(workers)]
    parts = list(mapper(_oracle_rows, chunks))
    rows = [None] * len(payloads)
    for i, part in enumerate(parts):
        rows[i::workers] = part
    out = first[["conv_id", "turn_idx"]].copy()
    out["content_type"] = [r[0] for r in rows]
    out["extracted_text"] = [r[1] for r in rows]
    out["status"] = [r[2] for r in rows]
    return out


def materialize(workload: str, seed: int, cache_root: Path,
                workers: int) -> Path:
    """Return the cache entry, generating it on a miss. Each part's
    directory holds ``input.parquet`` and ``manifest.json``; the timed
    part also ``expected.parquet``."""
    entry = cache_root / f"{workload}-s{seed}-{source_hash()}"
    if all((entry / p / "manifest.json").exists() for p in PARTS):
        return entry
    tmp = entry.with_name(entry.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as pool:
        for part in PARTS:
            d = tmp / part
            d.mkdir(parents=True)
            df, n_dups, planted = generate(workload, seed, part)
            df.to_parquet(d / "input.parquet", index=False)
            if part == "timed":
                expected_outputs(df, pool.map, workers).to_parquet(
                    d / "expected.parquet", index=False)
            manifest = {
                "workload": workload, "seed": seed, "part": part,
                "source_hash": source_hash(), "input_rows": len(df),
                "distinct_keys": len(df[["conv_id", "turn_idx"]]
                                     .drop_duplicates()),
                "duplicate_rows": n_dups,
                "planted_malformed": len(planted), "planted_keys": planted,
                "input_mb": (d / "input.parquet").stat().st_size / 1e6,
            }
            (d / "manifest.json").write_text(json.dumps(manifest))
    # the spawn context's resource tracker would outlive the run
    resource_tracker._resource_tracker._stop()
    shutil.rmtree(entry, ignore_errors=True)
    os.replace(tmp, entry)
    return entry
