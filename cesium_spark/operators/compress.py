"""Compressed block storage: Gorilla blocks per (series, tier window).

compress_blocks: raw rows -> one row per (series, window) carrying the
Gorilla-encoded (ts, value) block, point count, byte sizes, and an md5
content hash of the per-turn text in stable (ts, tiebreak) order — the
text-equality lineage required by the north rule (raw text itself stays in
the raw table until its retention horizon; the hash lets any later stage
prove the rollup saw exactly those bytes).

decompress_blocks: the exact inverse of the (ts, value) encoding —
bit-lossless, verified by roundtrip tests and the text hash.

Physical plan: compress_blocks is one ``kernel.map_sorted_groups`` pass
(one shuffle on (series, window), secondary sort, mapInPandas);
encode/decode are vectorized numpy per group.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..codec.gorilla import decode_block, encode_block
from ..kernel import map_sorted_groups, ts_micros
from .rollup import TIERS

__all__ = [
    "compress_blocks", "decompress_blocks", "text_content_hash",
    "digest_chain_hash",
]


def text_content_hash(texts) -> str:
    """Order-sensitive group digest: md5 over the concatenation of the
    PER-TURN md5 hex digests in stable order (fixed 32-hex width, so no
    concatenation ambiguity). Two properties the flat raw-bytes hash of
    round 1 lacked:
      - the raw text never has to cross the JVM->Arrow boundary for the
        lineage hash — compress_blocks computes the per-turn md5s with
        the JVM's codegen'd md5() and ships 32-hex strings (shipping the
        full text cost ~2x the whole compress pass at 3.7M turns);
      - the chain is engine-recomputable (md5 + string_agg exists in any
        SQL engine), so downstream stages can verify per-turn equality,
        not just whole-group equality.
    """
    h = hashlib.md5()
    for t in texts:
        h.update(hashlib.md5((t or "").encode("utf-8")).hexdigest().encode())
    return h.hexdigest()


def digest_chain_hash(turn_digests) -> str:
    """text_content_hash when the per-turn md5 digests are already
    available (the compress_blocks fast path: JVM computes them).
    Accepts hex strings or raw 16-byte digests — the binary form is
    what compress_blocks ships since r7 (half the shuffle bytes for the
    lineage column); both hash the same lowercase-hex chain."""
    import binascii

    chunks = []
    for d in turn_digests:
        if isinstance(d, (bytes, bytearray)):
            # hexlify(concat of raw digests) == concat of per-digest hex,
            # so the whole chain hashes in ONE md5 call instead of one
            # update per turn (the per-turn update loop was ~half the
            # Python time of the compress pass)
            chunks.append(d)
        elif d:
            return _digest_chain_hash_str(turn_digests)
    return hashlib.md5(binascii.hexlify(b"".join(chunks))).hexdigest()


def _digest_chain_hash_str(turn_digests) -> str:
    """Legacy hex-string form (callers holding 32-hex digests)."""
    h = hashlib.md5()
    for d in turn_digests:
        if isinstance(d, (bytes, bytearray)):
            d = d.hex()
        h.update((d or "").encode())
    return h.hexdigest()


def compress_blocks(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    value: Column | str | None = None,
    text_col: str | None = "text",
) -> DataFrame:
    v_col = F.col(value) if isinstance(value, str) else value
    if v_col is None:
        v_col = F.length(F.col(text_col or "text")).cast("double")
    cols = [
        F.col(key_col),
        F.window(F.col(ts_col), TIERS.get(tier, tier)).start.alias("window_start"),
        ts_micros(F.col(ts_col)).alias("ts_us"),
        F.col(tiebreak_col).cast("long").alias("_ord"),
        v_col.alias("v"),
    ]
    if text_col is not None:
        # per-turn md5 computed JVM-side: the lineage hash needs only the
        # digest chain in Python, never the raw text through Arrow.
        # Shipped as the raw 16-byte digest (unhex) rather than the
        # 32-char hex string — same value, half the bytes through the
        # kernel's one exchange (guide §2.3); hex form is recovered
        # losslessly in digest_chain_hash
        cols.append(
            F.unhex(
                F.md5(F.coalesce(F.col(text_col), F.lit("")).cast("string"))
            ).alias("_text")
        )
    narrow = df.select(*cols)
    keys = [key_col, "window_start"]

    key_field = narrow.schema[key_col]
    ws_field = narrow.schema["window_start"]
    out_schema = (
        f"{key_field.name} {key_field.dataType.simpleString()}, "
        f"window_start {ws_field.dataType.simpleString()}, "
        "n_points long, block binary, raw_bytes long, block_bytes long"
        + (", text_md5 string" if text_col is not None else "")
    )

    def _per_frame(body, starts):
        ends = np.append(starts[1:], len(body))
        ts_all = body["ts_us"].to_numpy(dtype=np.int64)
        v_all = body["v"].to_numpy(dtype=np.float64)
        texts = body["_text"].to_numpy() if text_col is not None else None
        rows = {k: body[k].to_numpy()[starts] for k in keys}
        n_pts, blocks, raw_b, blk_b, hashes = [], [], [], [], []
        for s, z in zip(starts, ends):
            blk = encode_block(ts_all[s:z], v_all[s:z])
            n_pts.append(z - s)
            blocks.append(blk)
            raw_b.append((z - s) * 16)
            blk_b.append(len(blk))
            if texts is not None:
                hashes.append(digest_chain_hash(texts[s:z]))
        out = {**rows, "n_points": n_pts, "block": blocks,
               "raw_bytes": raw_b, "block_bytes": blk_b}
        if text_col is not None:
            out["text_md5"] = hashes
        return pd.DataFrame(out)

    return map_sorted_groups(narrow, keys, ["ts_us", "_ord"], _per_frame,
                             out_schema)


def decompress_blocks(
    blocks: DataFrame,
    key_col: str = "conv_id",
) -> DataFrame:
    """Blocks -> long-format rows (key, window_start, ts, value)."""
    key_field = blocks.schema[key_col]
    ws_field = blocks.schema["window_start"]
    out_schema = (
        f"{key_field.name} {key_field.dataType.simpleString()}, "
        f"window_start {ws_field.dataType.simpleString()}, "
        f"ts {ws_field.dataType.simpleString()}, value double"
    )

    def _mapper(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # decode every block of the batch into ONE preallocated pair
            # of arrays (total size = sum of n_points, known up front);
            # per-block Python is the decode call only — key/window
            # replication is a single vectorized np.repeat over counts,
            # no per-row tuple objects
            counts = pdf["n_points"].to_numpy(dtype=np.int64)
            total = int(counts.sum())
            ts_all = np.empty(total, dtype=np.int64)
            v_all = np.empty(total, dtype=np.float64)
            off = 0
            for blk, n in zip(pdf["block"].to_numpy(), counts):
                ts, v = decode_block(blk)
                ts_all[off: off + n] = ts
                v_all[off: off + n] = v
                off += n
            yield pd.DataFrame(
                {
                    key_col: np.repeat(pdf[key_col].to_numpy(), counts),
                    "window_start": np.repeat(
                        pdf["window_start"].to_numpy(), counts
                    ),
                    "ts": ts_all.astype("datetime64[us]"),
                    "value": v_all,
                }
            )

    return blocks.mapInPandas(_mapper, schema=out_schema)
