"""Seeded input generation for the load benchmark, with an atomic,
checksum-verified cache.

Run as its own process (the benchmark times it as ``gen_s``, outside
set-up)::

    python3 loadbench/gen.py --kind olap --seed 7 --root .loadbench/cache

prints the entry directory. An entry is built in a private temporary
directory, its ``MANIFEST.json`` (sha256 and size of every file plus
the planted truth) is written last, and the directory is renamed into
place in one step, so a killed generator never leaves a half-written
entry under the final name. ``ensure`` reuses an entry only if its
files have the sizes its manifest lists, and otherwise deletes and
rebuilds it; ``load``, which the benchmark runs as part of set-up,
re-hashes every file against the manifest and refuses an entry that
does not match.

The same seed writes the same bytes; another seed writes other bytes.
Generation uses numpy and pyarrow only, never the engine under test.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
KINDS = ("olap", "curate", "ingest")
KEEP_PER_KIND = 3  # cache entries kept per workload, newest first

# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------


def entry_dir(root: str, kind: str, seed: int) -> str:
    return os.path.join(root, f"{kind}-v{GEN_VERSION}-s{seed}")


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class CorruptEntry(RuntimeError):
    """A cache entry whose files do not match its manifest."""


def load(path: str) -> dict:
    """Verify every file of an entry against its manifest; return the
    manifest. Raises CorruptEntry on a missing manifest, a missing or
    extra file, or a size or hash mismatch."""
    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError) as e:
        raise CorruptEntry(f"{path}: unreadable manifest ({e})") from e
    found = set()
    for dirpath, _, names in os.walk(path):
        for n in names:
            rel = os.path.relpath(os.path.join(dirpath, n), path)
            if rel != "MANIFEST.json":
                found.add(rel)
    listed = manifest.get("files", {})
    if found != set(listed):
        raise CorruptEntry(f"{path}: files differ from manifest")
    for rel, want in listed.items():
        p = os.path.join(path, rel)
        if os.path.getsize(p) != want["bytes"] or _sha256(p) != want["sha256"]:
            raise CorruptEntry(f"{path}: {rel} does not match its checksum")
    return manifest


def _complete(path: str) -> bool:
    """The entry has a manifest and every file it lists, at its size."""
    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            listed = json.load(f)["files"]
        return all(os.path.getsize(os.path.join(path, rel)) == w["bytes"] for rel, w in listed.items())
    except (OSError, ValueError, KeyError):
        return False


def ensure(root: str, kind: str, seed: int) -> str:
    final = entry_dir(root, kind, seed)
    if os.path.isdir(final):
        if _complete(final):
            return final
        shutil.rmtree(final)
    os.makedirs(root, exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[kind](tmp, seed)
    files = {}
    for dirpath, _, names in os.walk(tmp):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            files[os.path.relpath(p, tmp)] = {"bytes": os.path.getsize(p), "sha256": _sha256(p)}
    manifest = {"version": GEN_VERSION, "kind": kind, "seed": seed, "files": files, "meta": meta}
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)
    _prune(root, kind, keep=final)
    return final


def _prune(root: str, kind: str, keep: str) -> None:
    prefix = f"{kind}-v"
    entries = [os.path.join(root, d) for d in os.listdir(root) if d.startswith(prefix)]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in [e for e in entries if e != keep][KEEP_PER_KIND - 1 :]:
        shutil.rmtree(old, ignore_errors=True)


def _rng(seed: int, kind: str) -> np.random.Generator:
    return np.random.default_rng([seed, KINDS.index(kind), GEN_VERSION])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------------------
# olap: TPC-H-ish star schema + events + documents (sf0.1 row counts)
# --------------------------------------------------------------------------

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days_us(start: str, days: np.ndarray) -> np.ndarray:
    base = (np.datetime64(start, "us") - _EPOCH).astype(np.int64)
    return base + days.astype(np.int64) * 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng, choices, n) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def gen_olap(out: str, seed: int) -> dict:
    rng = _rng(seed, "olap")
    n_cust, n_ord, n_supp, n_part, n_ev, n_docs = 15_000, 150_000, 1_000, 20_000, 100_000, 1_000

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}),
        f"{out}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{out}/nation.parquet",
    )
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
                "c_mktsegment": _pick(rng, segments, n_cust),
            }
        ),
        f"{out}/customer.parquet",
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
            }
        ),
        f"{out}/supplier.parquet",
    )
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": _pick(rng, ["large ring", "hot bolt", "steel pin", "blue gear"], n_part),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 1100, 2)),
            }
        ),
        f"{out}/part.parquet",
    )

    # a third of the customers place no orders (anti-join coverage)
    o_cust = rng.integers(0, n_cust * 2 // 3, n_ord).astype(np.int64) * 3 // 2
    o_days = rng.integers(0, 2403, n_ord)  # 1995-01-01 .. 2001-08-01
    n_lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    n_li = len(l_ord)
    starts = np.cumsum(n_lines) - n_lines
    l_num = (np.arange(n_li) - np.repeat(starts, n_lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    # Prices are whole hundreds and discount/tax whole cents, so every
    # revenue/charge term has at most two decimals: 2dp-rounded sums
    # never sit on a half-cent tie, where Spark's and DuckDB's double
    # rounding legitimately disagree.
    ext = qty * (rng.integers(9, 100, n_li) * 100).astype(np.float64)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship_days = np.repeat(o_days, n_lines) + rng.integers(1, 122, n_li)
    ship_us = _days_us("1995-01-01", ship_days)
    cutoff = _days_us("1998-08-02", np.zeros(1, dtype=np.int64))[0]
    returnflag = np.where(
        ship_us <= cutoff, np.asarray(["A", "R"], dtype=object)[rng.integers(0, 2, n_li)], "N"
    )
    linestatus = np.where(ship_us <= cutoff, "F", "O").astype(object)
    totals = np.bincount(l_ord, weights=ext * (1 - disc) * (1 + tax), minlength=n_ord)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(o_cust),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(np.round(totals, 2)),
                "o_orderdate": _ts(_days_us("1995-01-01", o_days)),
                "o_orderpriority": _pick(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        f"{out}/orders.parquet",
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_ord),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
                "l_linenumber": pa.array(l_num),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(ext),
                "l_discount": pa.array(disc),
                "l_tax": pa.array(tax),
                "l_returnflag": pa.array(returnflag),
                "l_linestatus": pa.array(linestatus),
                "l_shipdate": _ts(ship_us),
            }
        ),
        f"{out}/lineitem.parquet",
    )

    # events: 30 days, strictly increasing microsecond timestamps (no ties
    # anywhere, so as-of and session results are unique)
    span = 30 * 86_400_000_000 - n_ev
    ev_us = np.sort(rng.integers(0, span, n_ev)) + np.arange(n_ev)
    ev_us += _days_us("2024-01-01", np.zeros(1, dtype=np.int64))[0]
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": _ts(ev_us),
                "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(np.int64)),
                "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n_ev),
                "value": pa.array(rng.integers(0, 56_000, n_ev) / 100.0),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        f"{out}/events.parquet",
    )
    words = _vocabulary(rng, 400)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))]) for k in rng.integers(5, 40, n_docs)]
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": texts,
                "lang": _pick(rng, ["en", "de", "fr"], n_docs),
                "source": _pick(rng, ["src0", "src1", "src2"], n_docs),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        ),
        f"{out}/documents.parquet",
    )
    return {"lineitem_rows": int(n_li)}


# --------------------------------------------------------------------------
# curate: web-like corpus with planted near-duplicates, junk and boilerplate
# --------------------------------------------------------------------------

FUNCTION_WORDS = (
    "the the the of of and and to to a in is it that with have be for on as was by at from"
).split()


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    cons, vows = list("bcdfghjklmnprstvwz"), list("aeiou")
    out = set()
    while len(out) < n:
        syl = int(rng.integers(1, 4))
        out.add("".join(cons[rng.integers(0, 18)] + vows[rng.integers(0, 5)] for _ in range(syl)) + cons[rng.integers(0, 18)])
    return np.array(sorted(out), dtype=object)


def _sentence(rng, vocab, n_words: int) -> str:
    ws = []
    for _ in range(n_words):
        if rng.random() < 0.35:
            ws.append(FUNCTION_WORDS[rng.integers(0, len(FUNCTION_WORDS))])
        else:
            ws.append(vocab[min(int(rng.zipf(1.3)) - 1, len(vocab) - 1)])
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _body(rng, vocab, n_sent: int, lo: int = 10, hi: int = 22) -> str:
    return " ".join(_sentence(rng, vocab, int(rng.integers(lo, hi))) for _ in range(n_sent))


# boilerplate lines C4's line filter keeps (terminal punctuation, 3+ words)
# and ones it drops (navigation, no punctuation)
KEPT_BOILERPLATE = [
    "Subscribe to our newsletter for the latest updates.",
    "All rights reserved by the site owner.",
    "Share this story with your friends and family.",
    "Sign in to leave a comment on this page.",
    "Read the full terms of use before you continue.",
    "This article was updated for accuracy and clarity.",
]
DROPPED_BOILERPLATE = ["Home | About | Contact", "Next page", "Menu"]


CURATE_SHAPE = {
    "clean_docs": 120,
    "clusters": 12,  # near-duplicate clusters, each a clean doc plus 1-3 copies
    "junk_per_rule": 3,  # low-quality pages per Gopher/C4 rule
}


def gen_curate(out: str, seed: int) -> dict:
    rng = _rng(seed, "curate")
    # one vocabulary for every seed, so the corpus compresses alike on
    # every seed and out_bytes_per_in_byte does not vary with it
    vocab = _vocabulary(np.random.default_rng([0, KINDS.index("curate"), GEN_VERSION]), 3000)
    n_base = CURATE_SHAPE["clean_docs"]
    docs: list[dict] = []  # text + truth fields, doc ids assigned after shuffling
    for _ in range(n_base):
        docs.append({"body": _body(rng, vocab, int(rng.integers(6, 10))), "kind": "clean", "cluster": None})
    # near-duplicate clusters: a clean base plus 1-3 copies with one word changed
    n_clusters = CURATE_SHAPE["clusters"]
    for c in range(n_clusters):
        base = docs[c]
        base["cluster"] = c
        toks = base["body"].split(" ")
        for _ in range(1 + c % 3):  # the same number of copies on every seed
            t = list(toks)
            i = int(rng.integers(1, len(t) - 1))
            t[i] = vocab[int(rng.integers(0, len(vocab)))] + ("." if t[i].endswith(".") else "")
            docs.append({"body": " ".join(t), "kind": "clean", "cluster": c})
    # low-quality pages, each failing exactly one Gopher or C4 rule
    for kind in ("short", "symbols", "lorem", "curly", "javascript"):
        for _ in range(CURATE_SHAPE["junk_per_rule"]):
            if kind == "short":
                body = _body(rng, vocab, 3, 5, 8)
            elif kind == "symbols":
                body = " ".join(
                    w if rng.random() > 0.25 else "#" + w for w in _body(rng, vocab, 7).split(" ")
                )
            else:
                body = _body(rng, vocab, 7)
                if kind == "lorem":
                    body += " Lorem ipsum dolor sit amet consectetur."
                elif kind == "curly":
                    body += " Then call the handler { return the value } again."
            docs.append({"body": body, "kind": kind, "cluster": None})
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    # boilerplate goes only on pages outside near-duplicate clusters, so
    # line dedup never changes a cluster member's shingles
    for d in docs:
        lines = [d["body"]]
        if d["kind"] == "javascript":
            lines.append("Please enable javascript in your browser to see this page.")
        if d["cluster"] is None:
            for b in KEPT_BOILERPLATE + DROPPED_BOILERPLATE:
                if rng.random() < 0.06:
                    lines.append(b)
        d["text"] = "\n".join(lines)

    # planted truth: survivors and the line count each keeps
    survivors, cluster_rep = [], {}
    for i, d in enumerate(docs):
        if d["kind"] != "clean":
            continue
        if d["cluster"] is not None:
            if d["cluster"] in cluster_rep:
                continue
            cluster_rep[d["cluster"]] = i
        survivors.append(i)
    seen, expected_lines = set(), 0
    passing = [i for i, d in enumerate(docs) if d["kind"] == "clean"]
    kept_rows = set(survivors)
    for i in passing:
        for line in docs[i]["text"].split("\n"):
            if line in DROPPED_BOILERPLATE or line in seen:
                continue
            seen.add(line)
            if i in kept_rows:
                expected_lines += 1
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
                "text": [d["text"] for d in docs],
            }
        ),
        f"{out}/documents.parquet",
    )
    return {
        "n_docs": len(docs),
        "n_passing": len(passing),
        "survivors": survivors,
        "expected_lines": expected_lines,
        "n_clusters": n_clusters,
    }


# --------------------------------------------------------------------------
# ingest: relay envelopes (protobuf WrappedPayload) in per-round directories
# --------------------------------------------------------------------------

INGEST_SHAPE = {
    "rounds": 7,  # drain rounds available to one run: warm-up plus measured
    "batches_per_round": 5,
    "files_per_batch": 1,  # maxFilesPerTrigger
    "events_per_file": 400,  # envelopes per file, duplicates included
    "round_minutes": 5,  # event time advanced per round
}
# Traffic mix. FIXTURES.md section 2 (the repo's model of relay traffic)
# gives about 10 % of rows with a duplicated dedupe_key and statuses
# {ok, error, cancel}; it gives no rates for the statuses or for corrupt
# payloads, so those three are assumed.
INGEST_MIX = {
    "duplicate_share": 0.10,  # FIXTURES.md section 2
    "error_rate": 0.03,  # assumed
    "cancel_rate": 0.02,  # assumed
    "corrupt_rate": 0.02,  # assumed
    "users": 200,  # assumed
}
PAYLOAD_SCHEMA = "event_id bigint, round int, user string, status string, value double, note string"


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _field(num: int, data: bytes) -> bytes:
    return _varint(num << 3 | 2) + _varint(len(data)) + data


def _ts_msg(us: int) -> bytes:
    secs, micros = divmod(us, 1_000_000)
    out = _varint(1 << 3) + _varint(secs)
    if micros:
        out += _varint(2 << 3) + _varint(micros * 1000)
    return out


def wrapped_payload(id_: str, ts_us: int, payload: bytes, seq: int, okey: str, dkey: str) -> bytes:
    """One relay envelope in the reference wire format
    (electrician_relay.proto WrappedPayload: id=1, timestamp=2,
    payload=3, metadata.headers=4, seq=6, payload_type=8,
    ordering_key=22, dedupe_key=25)."""
    header = _field(1, _field(1, b"compression") + _field(2, b"deflate"))
    return (
        _field(1, id_.encode())
        + _field(2, _ts_msg(ts_us))
        + _field(3, payload)
        + _field(4, header)
        + _varint(6 << 3)
        + _varint(seq)
        + _field(8, b"json")
        + _field(22, okey.encode())
        + _field(25, dkey.encode())
    )


def gen_ingest(out: str, seed: int) -> dict:
    rng = _rng(seed, "ingest")
    s, mix = INGEST_SHAPE, INGEST_MIX
    per_round = s["batches_per_round"] * s["files_per_batch"] * s["events_per_file"]
    n_dup = round(per_round * mix["duplicate_share"])
    n_distinct = per_round - n_dup
    t0 = int((np.datetime64("2024-03-01T00:00:00", "us") - _EPOCH).astype(np.int64))
    round_us = s["round_minutes"] * 60_000_000
    rounds = []
    notes = ["ok", "retry later", "payload accepted", "forwarded to relay", "queued"]
    for r in range(s["rounds"]):
        ids = np.arange(r * n_distinct, (r + 1) * n_distinct, dtype=np.int64)
        ts = t0 + r * round_us + np.sort(rng.integers(0, round_us, n_distinct))
        u = rng.random(n_distinct)
        status = np.where(
            u < mix["error_rate"], "error", np.where(u < mix["error_rate"] + mix["cancel_rate"], "cancel", "ok")
        )
        corrupt = rng.random(n_distinct) < mix["corrupt_rate"]
        users = rng.integers(0, mix["users"], n_distinct)
        envs = []
        for j in range(n_distinct):
            body = json.dumps(
                {
                    "event_id": int(ids[j]),
                    "round": r,
                    "user": f"u{users[j]}",
                    "status": str(status[j]),
                    "value": int(rng.integers(0, 100_000)) / 100.0,
                    "note": notes[int(rng.integers(0, len(notes)))],
                },
                separators=(",", ":"),
            ).encode()
            payload = rng.bytes(48) if corrupt[j] else zlib.compress(body)
            envs.append(
                wrapped_payload(
                    hashlib.sha256(str(ids[j]).encode()).hexdigest()[:32],
                    int(ts[j]),
                    payload,
                    j + 1,
                    f"u{users[j]}",
                    f"e{ids[j]}",
                )
            )
        # duplicates: byte-identical re-sends of events of the same round
        dup_src = rng.choice(n_distinct, n_dup, replace=False)
        rows = envs + [envs[i] for i in dup_src]
        rows = [rows[i] for i in rng.permutation(len(rows))]
        n_files = s["batches_per_round"] * s["files_per_batch"]
        for f in range(n_files):
            chunk = rows[f * s["events_per_file"] : (f + 1) * s["events_per_file"]]
            _write(pa.table({"wire": pa.array(chunk, pa.binary())}), f"{out}/r{r:04d}/part-{f:05d}.parquet")
        dlq = ids[corrupt | (status == "error")]
        rounds.append({"first_id": int(ids[0]), "n_distinct": n_distinct, "dlq_ids": [int(i) for i in dlq]})
    return {"shape": s, "mix": mix, "rows_per_round": per_round, "rounds": rounds}


GENERATORS = {"olap": gen_olap, "curate": gen_curate, "ingest": gen_ingest}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--kind", choices=KINDS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", required=True)
    a = ap.parse_args(argv)
    print(ensure(a.root, a.kind, a.seed))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
