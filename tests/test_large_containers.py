"""A container past 2 GiB through the repair CLI: offsets above 2**31,
a count walk split into byte ranges, and a repair that copies blocks
through bounded reads. Marked ``slow``: it writes about 4 GiB under the
test's temp directory (removed at the end) and runs in about a minute."""

from __future__ import annotations

import contextlib
import io
import shutil

import pytest

from s3_avro_repair_spark.avro_codec import ByteWindow, block_stats, read_header, write_ocf_bytes
from s3_avro_repair_spark.cli import main

pytestmark = pytest.mark.slow

_SCHEMA = {"type": "record", "name": "blob", "fields": [{"name": "b", "type": "bytes"}]}
_RECORD_BYTES = 64 * 1024
_PER_BLOCK = 16  # one block is about 1 MiB


def test_cli_repairs_container_over_2gib(spark, tmp_path):
    """Tile one pre-encoded block past 2 GiB, break the header of a
    block that starts above 2**31, and repair the file with the CLI:
    exactly that block is lost, and the copy's block headers count every
    other record."""
    one = write_ocf_bytes(
        _SCHEMA, [{"b": bytes([i]) * _RECORD_BYTES} for i in range(_PER_BLOCK)],
        block_records=_PER_BLOCK,
    )
    hdr_end = read_header(one)[3]
    header, block = one[:hdr_end], one[hdr_end:]  # block: its bytes and sync marker
    n_blocks = 2**31 // len(block) + 8
    bad = n_blocks - 4
    indir, out = tmp_path / "in", tmp_path / "out"
    indir.mkdir()
    try:
        with open(indir / "big.avro", "wb") as f:
            f.write(header)
            for i in range(n_blocks):
                # an overlong record-count varint: the block is unreadable
                f.write(b"\xff" * 16 + block[16:] if i == bad else block)
        size = (indir / "big.avro").stat().st_size
        assert size > 2**31 and hdr_end + bad * len(block) > 2**31

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(["--path", str(indir), "--out", str(out)])
        lines = buf.getvalue().strip().splitlines()
        want = (n_blocks - 1) * _PER_BLOCK
        assert rc == 0
        row = next(line.split() for line in lines if line.split()[:1] == ["big.avro"])
        assert row[1:6] == ["repaired", str(n_blocks - 1), "0", "1", str(want)]
        assert lines[-1] == "1 files: 0 healthy, 1 repaired, 0 unrepairable"

        fixed = out / "big.avro"
        assert fixed.stat().st_size == size - len(block)
        with open(fixed, "rb") as f:
            stats = block_stats(ByteWindow(f, size - len(block)))
        assert stats[:2] == (n_blocks - 1, want)
    finally:
        shutil.rmtree(indir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
