"""Seeded input generators for the three workloads.

Every row is a pure function of ``(seed, row index)``: rows are generated in
one sequential pass and only afterwards split into parquet files, so the
file (partition) count never changes the content. Inputs are written once
per seed under the cache directory and are never timed.

* ``extract``   — ``synthetic.gen_row`` rows from a seed-chosen window, with
  ``text`` set to NULL on a seeded half so the html→text path runs.
* ``kg_build``  — the same sentence grammar, but every person surface
  (``李明N``) is renamed into a wide, heavy-headed vocabulary of fixed-width
  ``李明<8 digits>`` names; a few percent of head-name mentions are planted
  containment aliases (the base name plus one digit).
* ``increment`` — a base corpus plus one crawl batch of new urls and
  revisits of base urls whose page changed.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import json
import os
import random
import re
import shutil

from relation_extraction_spark.synthetic import gen_row

EXTRACT_DOCS = 24_000
KG_DOCS = 1_500
KG_NAMES = 300            # distinct base person names in the kg_build corpus
KG_ZIPF_S = 1.0
KG_ALIAS_HEAD = 30        # only the 30 most frequent names get aliases
KG_ALIAS_PERCENT = 4      # share of head-name mentions that use an alias
INC_BASE_DOCS = 8_000
INC_NEW_DOCS = 800        # ~10 % new urls per batch
INC_REVISITS = 400
FILES = 8
EXTRACT_FILES = 16        # short tasks, so one slow core delays a pass less

_PERSON_RX = re.compile(r"李明(\d+)")
_WINDOW = 100_003         # rows per seed window; windows never overlap


def _h(*parts) -> int:
    raw = ":".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")


def row_offset(seed: int) -> int:
    """First gen_row index of the seed's window. Bounded so warc_ts stays a
    valid timestamp (gen_row spaces rows 137 s apart)."""
    return (seed % 4_999) * _WINDOW


def _doc(i: int, seed: int, salt: str) -> dict:
    r = gen_row(i)
    text = None if _h(seed, salt, i) & 1 else r["text"]
    return {"url": r["url"], "warc_ts": r["warc_ts"], "html": r["html"],
            "text": text, "lang": r["lang"], "gold": r["gold"]}


def extract_rows(seed: int) -> list[dict]:
    off = row_offset(seed)
    return [_doc(off + j, seed, "x") for j in range(EXTRACT_DOCS)]


def _vocabulary(seed: int) -> list[str]:
    """KG_NAMES distinct 8-digit ids whose 7 digit bigrams are all distinct,
    so no two names reach the 0.7 shingle-Jaccard alias threshold by
    accident (fixed width rules out containment between base names)."""
    rnd = random.Random(_h(seed, "vocab"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < KG_NAMES:
        d = f"{rnd.randrange(10**8):08d}"
        if d in seen or len({d[k:k + 2] for k in range(7)}) < 7:
            continue
        seen.add(d)
        out.append(f"李明{d}")
    return out


def kg_rows(seed: int) -> tuple[list[dict], dict[str, str]]:
    """kg_build corpus and its planted aliases ``{alias: base}``.

    The gold triples are gen_row's hand-written template gold with the same
    renaming applied to every surface."""
    names = _vocabulary(seed)
    cum, acc = [], 0.0
    for r in range(KG_NAMES):
        acc += 1.0 / (r + 1) ** KG_ZIPF_S
        cum.append(acc)
    covered = 0               # the first KG_NAMES mentions cover every rank
    aliases: dict[str, str] = {}
    off = row_offset(seed)
    rows = []
    for j in range(KG_DOCS):
        i = off + j
        doc = _doc(i, seed, "k")
        rename: dict[str, str] = {}
        used: set[int] = set()
        for num in dict.fromkeys(_PERSON_RX.findall(gen_row(i)["text"])):
            if covered < KG_NAMES:
                rank = covered
                covered += 1
            else:
                attempt = 0
                while True:
                    u = (_h(seed, "z", i, num, attempt) % 10**9) / 10**9 * acc
                    rank = min(bisect.bisect_left(cum, u), KG_NAMES - 1)
                    if rank not in used:
                        break
                    attempt += 1
            used.add(rank)
            surface = names[rank]
            hh = _h(seed, "alias", i, num)
            if rank < KG_ALIAS_HEAD and hh % 100 < KG_ALIAS_PERCENT:
                alias = surface + str(hh // 100 % 10)
                aliases[alias] = surface
                surface = alias
            rename[num] = surface
        sub = lambda s: _PERSON_RX.sub(lambda m: rename[m.group(1)], s)  # noqa: E731
        if doc["text"] is not None:
            doc["text"] = sub(doc["text"])
        doc["html"] = sub(doc["html"].decode("utf-8")).encode("utf-8")
        doc["gold"] = [
            {**g, "subject": sub(g["subject"]),
             "object": {k: sub(v) for k, v in g["object"].items()}}
            for g in doc["gold"]
        ]
        rows.append(doc)
    return rows, aliases


def increment_rows(seed: int) -> tuple[list[dict], list[dict]]:
    """(base, batch). The batch holds INC_NEW_DOCS new urls and
    INC_REVISITS re-crawls of base urls whose page changed (another row's
    content under the old url); the incremental cut must skip the
    revisits."""
    off = row_offset(seed)
    base = [_doc(off + j, seed, "b") for j in range(INC_BASE_DOCS)]
    new = [_doc(off + INC_BASE_DOCS + j, seed, "n") for j in range(INC_NEW_DOCS)]
    rnd = random.Random(_h(seed, "revisit"))
    revisits = []
    for j in sorted(rnd.sample(range(INC_BASE_DOCS), INC_REVISITS)):
        changed = _doc(off + _WINDOW - 1 - j, seed, "r")
        revisits.append({**changed, "url": base[j]["url"],
                         "warc_ts": base[j]["warc_ts"] + dt.timedelta(days=30)})
    batch = new + revisits
    rnd.shuffle(batch)
    return base, batch


# --- parquet + cache ------------------------------------------------------------

def write_docs(rows: list[dict], path: str, files: int = FILES) -> None:
    """Documents parquet (DOCUMENTS_SCHEMA columns) split into ``files``
    contiguous chunks; the gold column is not written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        ("url", pa.string(), False), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    step = -(-len(rows) // files)
    for f in range(files):
        chunk = rows[f * step:(f + 1) * step]
        pq.write_table(pa.table({
            "url": [r["url"] for r in chunk],
            "warc_ts": [r["warc_ts"] for r in chunk],
            "html": [r["html"] for r in chunk],
            "text": [r["text"] for r in chunk],
            "lang": [r["lang"] for r in chunk],
        }, schema=schema), os.path.join(path, f"part-{f:03d}.parquet"))


def gold_records(rows: list[dict]) -> list[dict]:
    return [{"url": r["url"], **g} for r in rows for g in r["gold"]]


def rows_digest(rows: list[dict]) -> str:
    """Order-independent digest of document rows (gold included)."""
    hs = sorted(
        hashlib.sha256(json.dumps(
            [r["url"], r["warc_ts"].isoformat(), r["html"].hex(), r["text"],
             r["lang"], r["gold"]], ensure_ascii=False, sort_keys=True,
        ).encode()).hexdigest()
        for r in rows)
    return hashlib.sha256("".join(hs).encode()).hexdigest()


def cached(root: str, key: str, build) -> str:
    """Directory ``root/key`` built once by ``build(tmp_dir)``; a half-built
    directory from an interrupted run is rebuilt."""
    final = os.path.join(root, key)
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok\n")
    os.rename(tmp, final)
    return final


def save_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, ensure_ascii=False)


def load_json(path: str):
    with open(path) as fh:
        return json.load(fh)
