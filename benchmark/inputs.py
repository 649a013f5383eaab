"""Seeded input generators for the benchmark's workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes files only; the program under test receives nothing
but those files. The same seed gives byte-identical inputs.

- :func:`write_documents` writes a ``documents`` corpus with the make-up
  of the sf0.1 fixture's ``documents`` table for the ``cluster`` workload.
- :func:`write_raw_events` writes Rucio-shaped nested JSON.gz parts for the
  ``ingest`` workload and returns the generator's own failure count and
  byte sum, which the ingest check compares against.
"""

from __future__ import annotations

import gzip
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- documents: the make-up of the sf0.1 fixture -----------------------------

#: Measured on the sf0.1 ``documents`` table that ``bench.py`` reads
#: (TESTDATA.md; 5,000 rows): every text is 10 to 100 words (uniform, mean
#: 54.1) drawn uniformly from these 30 words (each 3.26-3.39 % of the
#: tokens); 250 docs (5 %) are another doc's text with " dup" appended; the
#: ``lang`` shares are 2,059 en and 702-753 each of es, zh, fr, de, and
#: ``source`` is ``src{doc_id % 20}``.
_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")
_DOC_WORDS = (10, 100)
_DUP_SHARE = 0.05
_LANGS = ("en", "es", "zh", "fr", "de")
_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
#: The fixture has no blank texts. The reference corpus has 38 blank
#: messages in 2,826 (FIXTURES.md A1), which flow B must drop, so the
#: benchmark blanks that share of the docs.
_BLANK_SHARE = 38 / 2826


def write_documents(rng: np.random.Generator, out_dir: str,
                    n_docs: int) -> None:
    """``documents`` (doc_id, text, lang, source, n_chars)."""
    os.makedirs(out_dir, exist_ok=True)
    lengths = rng.integers(_DOC_WORDS[0], _DOC_WORDS[1] + 1, n_docs)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(_WORDS[w] for w in words[e - n:e])
             for n, e in zip(lengths.tolist(), ends.tolist())]
    # a near-duplicate copies a doc before it (doc 0 copies itself)
    dup = rng.random(n_docs) < _DUP_SHARE
    src = rng.random(n_docs)
    for i in np.flatnonzero(dup).tolist():
        texts[i] = texts[int(src[i] * i)] + " dup"
    blank = rng.random(n_docs) < _BLANK_SHARE
    texts = ["" if b else t for t, b in zip(texts, blank.tolist())]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[k] for k in
                          rng.choice(len(_LANGS), n_docs, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))


# --- raw Rucio monitoring events (nested JSON.gz) ----------------------------

#: FTS/Rucio failure reasons: fixed templates with embedded hosts, ports,
#: paths, hex ids and bracketed numeric codes. The first six are the
#: families FIXTURES.md A1 lists from the reference's issue corpus; the
#: other six are of the same form but not taken from it. No share of the
#: families is recorded in the repository, so every reason draws its family
#: uniformly.
_REASONS = (
    "SOURCE [70] globus_xio: Unable to connect to {host}:2811",
    "TRANSFER [70] TRANSFER globus_xio: System error in connect: "
    "Connection timed out to {host}:{port}",
    "Transfer has been forced-killed because it was stalled",
    "Job has been canceled because it stayed in the queue for too long",
    "Reaper 0-1: Deletion NOTFOUND of {scope}:{fname} as "
    "davs://{host}:2880/{path} on {rse}",
    "Replica root://{host}:1094//{path} is corrupted.",
    "DESTINATION [17] Destination file exists and overwrite is not enabled",
    "SOURCE [2] srm-ifce err: Communication error on send, err: [SE][Ls][] "
    "httpg://{host}:8446/srm/managerv2: CGSI-gSOAP running on {host} "
    "reports Error reading token data header: Connection closed",
    "TRANSFER [5] DESTINATION OVERWRITE srm-ifce err: Communication error on "
    "send, err: [SE][srmRm][] httpg://{host}:8443/srm/managerv2: could not "
    "open connection to {host}:8443",
    "CHECKSUM [5] Source and destination checksums do not match "
    "{adler} != {adler2}",
    "SOURCE [13] Permission denied at line {line} for {path}",
    "TRANSFER [110] Operation timed out after {secs} seconds for "
    "davs://{host}/{path}",
)
_SITES = tuple(f"{c}-{k}" for c in ("CERN", "BNL", "FZK", "IN2P3", "RAL",
                                    "TRIUMF", "NDGF", "PIC", "SARA", "CNAF")
               for k in ("PROD", "DATADISK", "SCRATCHDISK", "TAPE"))
_HOSTS = tuple(f"se{i:02d}.{d}" for i in range(6)
               for d in ("cern.ch", "bnl.gov", "gridka.de", "in2p3.fr",
                         "rl.ac.uk", "triumf.ca", "ndgf.org"))
_SCOPES = ("mc16_13TeV", "data18_13TeV", "user.jdoe", "panda", "valid1")
_ACTIVITIES = ("Production Output", "Data Consolidation", "Staging",
               "Analysis Input", "User Subscriptions", "T0 Export")
_PROTOCOLS = ("davs", "root", "srm", "gsiftp")


def _reason(r: random.Random, family: int) -> str:
    scope = r.choice(_SCOPES)
    fname = f"EVNT.{r.getrandbits(128):032x}.pool.root.1"
    return _REASONS[family].format(
        host=r.choice(_HOSTS), port=r.choice((2811, 8443, 1094, 443)),
        scope=scope, fname=fname,
        path=f"rucio/{scope}/{r.getrandbits(8):02x}/{r.getrandbits(8):02x}/"
             f"{fname}",
        rse=r.choice(_SITES), adler=f"{r.getrandbits(32):08x}",
        adler2=f"{r.getrandbits(32):08x}", line=r.randrange(1, 400),
        secs=r.randrange(1, 61) * 60)


def _text_rng(rng: np.random.Generator) -> random.Random:
    """Per-record string draws use the stdlib generator (a scalar numpy
    draw costs ~10x more), seeded from the run's numpy generator."""
    return random.Random(int(rng.integers(1 << 62)))


RAW_EVENT_TYPES = ("transfer-done", "transfer-failed", "transfer-submitted",
                   "deletion-done", "deletion-failed")
FAILED_TYPES = ("transfer-failed", "deletion-failed")
#: Failures are 610,200 of the 2.76M events of the reference's first raw
#: file (SURVEY.md section 2). How they split between the two failure
#: types, and the other events among theirs, is not recorded, so each
#: group splits evenly.
_FAILED_SHARE = 610_200 / 2_760_000
_RAW_EVENT_P = tuple((_FAILED_SHARE / 2 if t in FAILED_TYPES
                      else (1 - _FAILED_SHARE) / 3) for t in RAW_EVENT_TYPES)
#: 2019-08-15, the day the reference notebook reads
_RAW_DAY = 1_565_827_200


def write_raw_events(rng: np.random.Generator, out_dir: str, n_parts: int,
                     per_part: int) -> tuple[int, int]:
    """Write ``n_parts`` gzip JSON-lines parts of ``per_part`` records with
    the ``RAW_EVENT_SCHEMA`` envelope ``{data: {...}, metadata: {...}}``.
    Returns ``(failure events, sum of their bytes)`` as generated."""
    os.makedirs(out_dir, exist_ok=True)
    r = _text_rng(rng)
    n_failed = bytes_failed = 0
    for part in range(n_parts):
        types = rng.choice(len(RAW_EVENT_TYPES), per_part, p=_RAW_EVENT_P)
        fams = rng.integers(0, len(_REASONS), per_part)
        sizes = rng.integers(1 << 10, 1 << 32, per_part).tolist()
        starts = (_RAW_DAY + np.sort(rng.integers(0, 86_400, per_part)))
        durs = rng.integers(1, 3_600, per_part)
        stamps = _stamps(starts)
        dones = _stamps(starts + durs)
        durs = durs.tolist()
        starts = starts.tolist()
        lines = []
        for i in range(per_part):
            etype = RAW_EVENT_TYPES[types[i]]
            failed = etype in FAILED_TYPES
            reason = _reason(r, int(fams[i])) if failed else ""
            if failed:
                n_failed += 1
                bytes_failed += sizes[i]
            # every field is quote- and backslash-free ASCII, so the
            # template is exact JSON (json.dumps per record costs 2x)
            lines.append(
                f'{{"data": {{"event_type": "{etype}", "reason": "{reason}", '
                f'"src_rse": "{r.choice(_SITES)}", '
                f'"dst_rse": "{r.choice(_SITES)}", '
                f'"activity": "{r.choice(_ACTIVITIES)}", '
                f'"scope": "{r.choice(_SCOPES)}", '
                f'"name": "EVNT.{r.getrandbits(64):016x}.pool.root.1", '
                f'"bytes": {sizes[i]}, "file_size": {sizes[i]}, '
                f'"duration": {durs[i]}, "created_at": "{stamps[i]}", '
                f'"submitted_at": "{stamps[i]}", "started_at": "{stamps[i]}", '
                f'"transferred_at": "{dones[i]}", '
                f'"protocol": "{r.choice(_PROTOCOLS)}", '
                f'"checksum_adler": "{r.getrandbits(32):08x}"}}, '
                f'"metadata": {{"timestamp": {starts[i] * 1000}}}}}')
        path = os.path.join(out_dir, f"part-{part:05d}.json.gz")
        with open(path, "wb") as raw, gzip.GzipFile(
                filename="", mode="wb", compresslevel=1, fileobj=raw,
                mtime=0) as gz:
            gz.write(("\n".join(lines) + "\n").encode())
    return n_failed, bytes_failed


def _stamps(epoch_s: np.ndarray) -> list[str]:
    """``YYYY-MM-DD HH:MM:SS`` strings, the raw events' timestamp format."""
    return [s.replace("T", " ") for s in
            epoch_s.astype("datetime64[s]").astype(str).tolist()]
