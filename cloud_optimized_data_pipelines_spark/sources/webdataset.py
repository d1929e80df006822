"""WebDataset-style tar-shard ingestion — the de-facto container for
multimodal training samples (image/text/json members grouped by key
inside plain POSIX tar shards, usually name-sharded `.tar` files
read sequentially at high throughput).

The tar layer is implemented from the public POSIX.1-1988/ustar
layout (512-byte headers: name 100, mode/uid/gid octal, size 12
octal, mtime 12, checksum 8 computed with the checksum field
space-filled, typeflag, linkname 100, magic ``ustar``, uname/gname,
devmajor/devminor, prefix 155; data padded to 512; archive ends with
two zero blocks), with the GNU long-name extension (typeflag ``L``)
and pax extended headers (typeflag ``x`` — parsed for a ``path``
override) handled because real WebDataset writers emit them.  The
stdlib ``tarfile`` module is the in-container reference
implementation: tests cross-check BOTH directions (tarfile reads our
writer's shards; our parser reads tarfile's output).

WebDataset grouping semantics (public convention): members sort in
archive order; a SAMPLE is the run of members sharing the key
``basename up to the first dot`` (so ``000123.jpg`` + ``000123.txt``
+ ``000123.json`` form one sample with three modality columns); the
extension (everything after the first dot) names the field.

Spark surface: :func:`wds_samples` — Arrow-batched explode of a
binary shard column into one row per SAMPLE with a map of
extension -> payload plus per-member metadata.  At 100 TB this is
the multimodal ingest scan: shards decode independently inside
their input splits (pure map, no shuffle), and samples never
straddle shards by construction.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from cloud_optimized_data_pipelines_spark.batching import (
    BatchFlusher,
    spread_small_scan,
)

_BLOCK = 512


def _octal(field: bytes) -> int:
    s = field.split(b"\x00")[0].strip()
    if not s:
        return 0
    if s[0] & 0x80:  # GNU base-256 extension
        v = 0
        for b in field:
            v = (v << 8) | b
        return v & ~(0x80 << (8 * (len(field) - 1)))
    return int(s, 8)


def _checksum(header: bytes) -> int:
    a = np.frombuffer(header, np.uint8).astype(np.int64)
    return int(a[:148].sum()) + 8 * 32 + int(a[156:].sum())


def encode_tar_member(name: str, payload: bytes, mtime: int = 0) -> bytes:
    """One ustar member (regular file)."""
    nb = name.encode()
    if len(nb) > 100:
        raise ValueError("tar: name exceeds 100 bytes (use pax)")
    h = bytearray(_BLOCK)
    h[0 : len(nb)] = nb
    h[100:108] = b"0000644\x00"
    h[108:116] = b"0000000\x00"
    h[116:124] = b"0000000\x00"
    h[124:136] = b"%011o\x00" % len(payload)
    h[136:148] = b"%011o\x00" % mtime
    h[148:156] = b" " * 8  # checksum space-filled for computation
    h[156] = ord("0")  # regular file
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    ck = _checksum(bytes(h))
    h[148:156] = b"%06o\x00 " % ck
    pad = (-len(payload)) % _BLOCK
    return bytes(h) + payload + b"\x00" * pad


def encode_tar(members: list[tuple[str, bytes]]) -> bytes:
    """A complete archive: members + the two-zero-block terminator."""
    return (
        b"".join(encode_tar_member(n, p) for n, p in members)
        + b"\x00" * (2 * _BLOCK)
    )


def parse_tar(data: bytes) -> list[dict]:
    """Parse an archive into member dicts (name, payload, offset,
    size); GNU longname (``L``) and pax ``path`` overrides applied;
    non-file members (dirs, links, pax globals) are skipped."""
    members = []
    pos = 0
    pending_name: str | None = None
    n = len(data)
    while pos + _BLOCK <= n:
        header = data[pos : pos + _BLOCK]
        if header == b"\x00" * _BLOCK:
            break
        want = _octal(header[148:156])
        if _checksum(header) != want:
            raise ValueError(f"tar: header checksum mismatch at {pos}")
        size = _octal(header[124:136])
        typeflag = chr(header[156])
        body_start = pos + _BLOCK
        body_end = body_start + size
        if body_end > n:
            raise ValueError("tar: truncated member")
        payload = data[body_start:body_end]
        advance = _BLOCK + size + ((-size) % _BLOCK)
        if typeflag == "L":  # GNU long name: payload is the real name
            pending_name = payload.rstrip(b"\x00").decode()
        elif typeflag == "x":  # pax extended header
            # pax records are length-prefixed ("%d %s=%s\n" where the
            # leading decimal counts the WHOLE record incl. itself and
            # the trailing \n) precisely so values may contain
            # newlines — walk by the length field, never split on \n
            # (POSIX.1-2001 pax(1) Extended Header format).
            rpos = 0
            while rpos < len(payload):
                sp = payload.find(b" ", rpos)
                if sp < 0:
                    raise ValueError("tar: malformed pax record length")
                try:
                    rlen = int(payload[rpos:sp])
                except ValueError:
                    raise ValueError("tar: malformed pax record length")
                if rlen <= sp - rpos or rpos + rlen > len(payload):
                    raise ValueError("tar: pax record length out of range")
                record = payload[sp + 1 : rpos + rlen]
                if record.endswith(b"\n"):
                    record = record[:-1]
                key, eq, value = record.partition(b"=")
                if eq and key == b"path":
                    pending_name = value.decode()
                rpos += rlen
        elif typeflag in ("0", "\x00"):
            name = header[0:100].split(b"\x00")[0].decode()
            prefix = header[345:500].split(b"\x00")[0].decode()
            if prefix:
                name = prefix + "/" + name
            if pending_name is not None:
                name = pending_name
                pending_name = None
            members.append(
                {
                    "name": name,
                    "payload": payload,
                    "offset": pos,
                    "size": size,
                }
            )
        # dirs/links/pax-globals: skipped
        pos += advance
    return members


def wds_key_ext(name: str) -> tuple[str, str]:
    """WebDataset convention: key = basename up to the FIRST dot,
    extension = everything after it (so ``a/b/x.seg.json`` ->
    (``a/b/x``, ``seg.json``))."""
    slash = name.rfind("/")
    dot = name.find(".", slash + 1)
    if dot < 0:
        return name, ""
    return name[:dot], name[dot + 1 :]


def group_samples(members: list[dict]) -> list[dict]:
    """Group members into samples by key, preserving archive order
    (the WebDataset reader contract: a sample's members are
    adjacent)."""
    samples: list[dict] = []
    current_key = None
    current: dict | None = None
    for m in members:
        key, ext = wds_key_ext(m["name"])
        if key != current_key:
            if current is not None:
                samples.append(current)
            current_key = key
            current = {"key": key, "fields": {}}
        current["fields"][ext] = m["payload"]
    if current is not None:
        samples.append(current)
    return samples


WDS_SAMPLE_SCHEMA = (
    "shard_id bigint, key string, n_fields bigint, "
    "extensions array<string>, total_bytes bigint, "
    "fields map<string, binary>"
)


def wds_samples(df, id_col: str, binary_col: str):
    """Explode tar shards into one row per WebDataset sample."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fl = BatchFlusher(["shard_id", "key", "n_fields", "extensions",
                           "total_bytes", "fields"])
        for pdf in batches:
            for sid, blob in zip(pdf[id_col], pdf[binary_col]):
                for s in group_samples(parse_tar(bytes(blob))):
                    exts = sorted(s["fields"])
                    nbytes = sum(len(v) for v in s["fields"].values())
                    out = fl.add(
                        {
                            "shard_id": int(sid),
                            "key": s["key"],
                            "n_fields": len(exts),
                            "extensions": exts,
                            "total_bytes": nbytes,
                            "fields": s["fields"],
                        },
                        nbytes=nbytes,
                    )
                    if out is not None:
                        yield out
        tail = fl.tail()
        if tail is not None:
            yield tail

    return spread_small_scan(df.select(id_col, binary_col)).mapInPandas(
        gen, WDS_SAMPLE_SCHEMA
    )


# ---------------------------------------------------------------------------
# deterministic probe fixtures (codec-probe pattern)
# ---------------------------------------------------------------------------


def wds_probe_shard(v: int) -> bytes:
    """One deterministic WebDataset shard: S = 20 + 5*(v%4) samples;
    sample i carries ``txt`` ("sample {i} variant {v}"), ``cls``
    (the digit (3i+v) mod 10) and, for even i, ``bin`` (16 + i%8
    bytes of (11i + 5j + v) mod 251) — every aggregate the query
    grades is integer-derivable for the SQL oracle."""
    members: list[tuple[str, bytes]] = []
    n = 20 + 5 * (v % 4)
    for i in range(n):
        key = f"{i:06d}"
        members.append((f"{key}.txt", f"sample {i} variant {v}".encode()))
        members.append((f"{key}.cls", str((3 * i + v) % 10).encode()))
        if i % 2 == 0:
            ln = 16 + i % 8
            members.append(
                (
                    f"{key}.bin",
                    bytes((11 * i + 5 * j + v) % 251 for j in range(ln)),
                )
            )
    blob = encode_tar(members)
    # round-trip guard before the bytes are graded
    samples = group_samples(parse_tar(blob))
    if len(samples) != n:  # pragma: no cover - codec guard
        raise RuntimeError(f"wds probe {v}: sample count mismatch")
    return blob
