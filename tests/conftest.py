from __future__ import annotations

import pytest

from patuha_etl_dlt_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


class Crash(BaseException):
    """A simulated process death at a durable write. Not an ``Exception``,
    so neither the retry policy nor a cycle's per-table failure handler
    catches it: it ends the call the way a killed process would."""


@pytest.fixture()
def crash_at(monkeypatch):
    """``crash_at(point)`` makes the next table commit die at ``point``:

    - ``"a"``: inside ``write_snapshot``, after ``snap-*.json`` is written
      and before ``CURRENT`` is swapped — nothing is committed;
    - ``"b"``: after ``CURRENT`` is swapped, before the metrics line is
      appended — the snapshot (data, batch id, offsets, cursor) is
      committed and only the log line is lost.

    One shot: the write after the crash runs normally. ``crash_at.Crash``
    is the exception raised."""
    from patuha_etl_dlt_spark.cdc.checkpoint import CheckpointStore
    from patuha_etl_dlt_spark.lake import metadata

    def arm(point: str) -> None:
        if point == "a":
            real_write = metadata.atomic_write

            def atomic_write(path, data):
                if path.endswith("CURRENT"):
                    monkeypatch.setattr(metadata, "atomic_write", real_write)
                    raise Crash(f"before swapping {path}")
                real_write(path, data)

            monkeypatch.setattr(metadata, "atomic_write", atomic_write)
        elif point == "b":
            real_commit = CheckpointStore.commit

            def commit(self, batch_id, metrics):
                monkeypatch.setattr(CheckpointStore, "commit", real_commit)
                raise Crash(f"before the metrics line of {batch_id}")

            monkeypatch.setattr(CheckpointStore, "commit", commit)
        else:
            raise ValueError(point)

    arm.Crash = Crash
    return arm


class ManifestIO:
    """Counts of snapshot-manifest parses (``metadata.read_snapshot``) and
    writes (``metadata.write_snapshot``) since the last ``take()``."""

    reads = writes = 0

    def take(self) -> tuple[int, int]:
        out = (self.reads, self.writes)
        self.reads = self.writes = 0
        return out


@pytest.fixture()
def manifest_io(monkeypatch):
    """A ``ManifestIO`` counting every manifest parse and write the
    package makes while the test runs."""
    from patuha_etl_dlt_spark.lake import metadata

    io = ManifestIO()
    real_read, real_write = metadata.read_snapshot, metadata.write_snapshot

    def read_snapshot(meta_dir, version):
        io.reads += 1
        return real_read(meta_dir, version)

    def write_snapshot(meta_dir, snap):
        io.writes += 1
        real_write(meta_dir, snap)

    monkeypatch.setattr(metadata, "read_snapshot", read_snapshot)
    monkeypatch.setattr(metadata, "write_snapshot", write_snapshot)
    return io
