"""WebDataset tar-shard source tests — stdlib ``tarfile`` is the
in-container reference implementation; both directions cross-check
(it reads our writer's shards, our parser reads its ustar/pax/GNU
output), plus the sample-grouping convention and the Spark explode."""

import io
import tarfile
from functools import partial

import pytest

from cloud_optimized_data_pipelines_spark.batching import probe_table
from cloud_optimized_data_pipelines_spark.sources import webdataset as WD
from cloud_optimized_data_pipelines_spark.sources.warc import (
    WARC_PROBE_SCHEMA,
    probe_blob_row,
)

MEMBERS = [
    ("000001.txt", b"hello sample one"),
    ("000001.jpg", b"\xff\xd8fakejpeg"),
    ("000001.json", b'{"a":1}'),
    ("000002.txt", b"second"),
    ("000002.jpg", b"\xff\xd8x"),
]


def _stdlib_tar(members, fmt=tarfile.USTAR_FORMAT):
    buf = io.BytesIO()
    tf = tarfile.open(fileobj=buf, mode="w", format=fmt)
    for n, p in members:
        info = tarfile.TarInfo(n)
        info.size = len(p)
        tf.addfile(info, io.BytesIO(p))
    tf.close()
    return buf.getvalue()


def test_our_writer_read_by_tarfile():
    tar = WD.encode_tar(MEMBERS)
    tf = tarfile.open(fileobj=io.BytesIO(tar))
    got = [(m.name, tf.extractfile(m).read()) for m in tf.getmembers()]
    assert got == MEMBERS


@pytest.mark.parametrize(
    "fmt", [tarfile.USTAR_FORMAT, tarfile.PAX_FORMAT, tarfile.GNU_FORMAT]
)
def test_tarfile_output_read_by_ours(fmt):
    parsed = WD.parse_tar(_stdlib_tar(MEMBERS, fmt))
    assert [(m["name"], m["payload"]) for m in parsed] == MEMBERS


@pytest.mark.parametrize(
    "fmt", [tarfile.PAX_FORMAT, tarfile.GNU_FORMAT]
)
def test_long_names(fmt):
    longname = "shards/" + "x" * 120 + "/000003.txt"
    parsed = WD.parse_tar(_stdlib_tar([(longname, b"long")], fmt))
    assert parsed[0]["name"] == longname
    assert parsed[0]["payload"] == b"long"


def test_ustar_prefix_split():
    # 140-char path fits ustar via the 155-byte prefix field
    name = "p" * 90 + "/" + "f" * 40 + ".txt"
    parsed = WD.parse_tar(_stdlib_tar([(name, b"pfx")]))
    assert parsed[0]["name"] == name


def test_parse_guards():
    tar = bytearray(WD.encode_tar(MEMBERS))
    tar[10] ^= 0xFF  # corrupt inside the first header's name field
    with pytest.raises(ValueError, match="checksum"):
        WD.parse_tar(bytes(tar))
    big = WD.encode_tar([("big.bin", bytes(3000))])
    # cut inside the member payload (past its header)
    with pytest.raises(ValueError, match="truncated"):
        WD.parse_tar(big[: 512 + 1500])
    with pytest.raises(ValueError, match="exceeds 100"):
        WD.encode_tar_member("y" * 120, b"")


def test_key_ext_and_grouping():
    assert WD.wds_key_ext("a/b/x.seg.json") == ("a/b/x", "seg.json")
    assert WD.wds_key_ext("plain") == ("plain", "")
    samples = WD.group_samples(WD.parse_tar(WD.encode_tar(MEMBERS)))
    assert [s["key"] for s in samples] == ["000001", "000002"]
    assert sorted(samples[0]["fields"]) == ["jpg", "json", "txt"]
    assert samples[1]["fields"]["txt"] == b"second"


def test_probe_shard_shape():
    blob = WD.wds_probe_shard(3)
    samples = WD.group_samples(WD.parse_tar(blob))
    assert len(samples) == 20 + 5 * (3 % 4)
    s0 = samples[0]
    assert s0["fields"]["txt"] == b"sample 0 variant 3"
    assert s0["fields"]["cls"] == b"3"
    assert len(s0["fields"]["bin"]) == 16
    assert "bin" not in samples[1]["fields"]
    # stdlib agrees the shard is a valid archive
    tf = tarfile.open(fileobj=io.BytesIO(blob))
    assert len(tf.getmembers()) == sum(
        len(s["fields"]) for s in samples
    )


def test_wds_samples_spark(spark):
    from pyspark.sql import functions as F

    probe = probe_table(
        spark, partial(probe_blob_row, WD.wds_probe_shard),
        WARC_PROBE_SCHEMA, 2,
    )
    out = WD.wds_samples(probe, "file_id", "blob")
    rows = out.orderBy("shard_id", "key").collect()
    assert len(rows) == (20 + 0) + (20 + 5)
    r0 = rows[0]
    assert r0.key == "000000"
    assert r0.n_fields == 3 and sorted(r0.extensions) == [
        "bin", "cls", "txt",
    ]
    assert bytes(r0.fields["txt"]) == b"sample 0 variant 0"
    # JVM-side label parse (the graded query's path)
    lab = (
        out.select(
            F.element_at(F.col("fields"), "cls")
            .cast("string")
            .cast("long")
            .alias("label")
        )
        .agg(F.sum("label"))
        .collect()[0][0]
    )
    expected = sum((3 * i + 0) % 10 for i in range(20)) + sum(
        (3 * i + 1) % 10 for i in range(25)
    )
    assert lab == expected

def test_pax_records_are_length_prefixed():
    # a pax value containing '\n' (and an embedded ' path=' decoy in
    # another value) must parse via the length prefix, not line splits
    name = "weird\nname/with spaces.txt"
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.PAX_FORMAT) as tf:
        info = tarfile.TarInfo(name)
        info.size = 5
        info.pax_headers = {"comment": "x path=decoy.bin\nmore"}
        tf.addfile(info, io.BytesIO(b"hello"))
    data = buf.getvalue()
    members = WD.parse_tar(data)
    assert [m["name"] for m in members] == [name]
    assert members[0]["payload"] == b"hello"
    # a corrupted (non-decimal) length prefix raises the named error:
    # the first 512 bytes are the 'x' header, the pax payload follows
    assert chr(data[156]) == "x"
    bad = bytearray(data)
    bad[512] = ord("A")
    with pytest.raises(ValueError, match="pax record length"):
        WD.parse_tar(bytes(bad))
