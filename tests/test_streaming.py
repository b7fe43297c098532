"""Streaming pipeline equivalence: run_stream (microbatched, stateful) must
produce byte-identical bundled CSV to the batch tocsv path.

The file stream delivers bundles in modification-time order; fixtures get
explicit increasing mtimes (the reference's source contract is strictly
block-ordered input, SURVEY §2.10 T1).
"""

import os
import time

import pytest

from test_pipeline_e2e import ACCOUNT_EVENTS, TRANSFER_EVENTS, SDL, ev, read_csv
import json

from substreams_sink_graph_load_spark.streaming import run_stream
from substreams_sink_graph_load_spark.tocsv import tocsv


@pytest.fixture()
def fixture_dirs(tmp_path):
    src = tmp_path / "jsonl"
    schema_file = tmp_path / "schema.graphql"
    schema_file.write_text(SDL)
    now = time.time()
    for entity, files in (("account", ACCOUNT_EVENTS), ("transfer", TRANSFER_EVENTS)):
        d = src / entity
        d.mkdir(parents=True)
        for i, (fname, events) in enumerate(sorted(files.items())):
            p = d / fname
            with open(p, "w") as fh:
                for e in events:
                    fh.write(json.dumps(e) + "\n")
            os.utime(p, (now + i, now + i))  # force block-ordered delivery
    return str(src), str(tmp_path)


def _run_both(spark, src, base, entity, schema_file, stop_block):
    batch_dest = os.path.join(base, "batch_csv")
    stream_dest = os.path.join(base, "stream_csv")
    tocsv(spark, src, batch_dest, entity, schema_file, stop_block=stop_block, bundle_size=1000)
    files = run_stream(
        spark, src, stream_dest, entity, schema_file,
        stop_block=stop_block, bundle_size=1000,
    )
    return batch_dest, stream_dest, files


def test_stream_equals_batch_mutable(spark, fixture_dirs):
    src, base = fixture_dirs
    schema_file = os.path.join(base, "schema.graphql")
    batch_dest, stream_dest, files = _run_both(
        spark, src, base, "account", schema_file, 3000
    )
    names = [os.path.basename(f) for f in files]
    assert names == [
        "0000000000-0000000999.csv",
        "0000001000-0000001999.csv",
        "0000002000-0000002999.csv",
    ]
    for n in names:
        assert read_csv(stream_dest, "account", n) == read_csv(batch_dest, "account", n)
    # cross-batch state: version closed by a DELETE two bundles later
    assert 'a1,"[500,2100)"' in read_csv(stream_dest, "account", names[2])
    with open(os.path.join(stream_dest, "last_block.txt")) as fh:
        assert fh.read() == "2200:\n"


def test_stream_equals_batch_immutable(spark, fixture_dirs):
    src, base = fixture_dirs
    schema_file = os.path.join(base, "schema.graphql")
    batch_dest, stream_dest, files = _run_both(
        spark, src, base, "transfer", schema_file, 3000
    )
    for f in files:
        n = os.path.basename(f)
        assert read_csv(stream_dest, "transfer", n) == read_csv(batch_dest, "transfer", n)


def test_stream_stop_block(spark, fixture_dirs):
    src, base = fixture_dirs
    schema_file = os.path.join(base, "schema.graphql")
    _, stream_dest, files = _run_both(
        spark, src, base, "account", schema_file, 2500
    )
    assert os.path.basename(files[-1]) == "0000002000-0000002499.csv"
    assert 'a2,"[2200,)"' in read_csv(stream_dest, "account", "0000002000-0000002499.csv")


def test_stream_resume_across_runs(spark, fixture_dirs):
    """T5 resume: stop after the first bundle, restart with the same
    workdir/checkpoint, deliver the rest — output must equal the batch
    pipeline over the full log (state + file cursor both survive)."""
    import shutil

    src, base = fixture_dirs
    schema_file = os.path.join(base, "schema.graphql")
    # phase 1: only the first bundle exists
    partial_src = os.path.join(base, "partial_src")
    d = os.path.join(partial_src, "account")
    os.makedirs(d)
    names = sorted(os.listdir(os.path.join(src, "account")))
    shutil.copy(os.path.join(src, "account", names[0]), os.path.join(d, names[0]))
    stream_dest = os.path.join(base, "resume_csv")
    workdir = os.path.join(base, "resume_work")
    run_stream(spark, partial_src, stream_dest, "account", schema_file,
               stop_block=3000, bundle_size=1000, workdir=workdir)
    # phase 2: the remaining bundles arrive; same checkpoint + state
    for n in names[1:]:
        shutil.copy(os.path.join(src, "account", n), os.path.join(d, n))
        t = time.time() + 10
        os.utime(os.path.join(d, n), (t, t))
    run_stream(spark, partial_src, stream_dest, "account", schema_file,
               stop_block=3000, bundle_size=1000, workdir=workdir)
    batch_dest = os.path.join(base, "resume_batch")
    tocsv(spark, src, batch_dest, "account", schema_file,
          stop_block=3000, bundle_size=1000)
    for n in ["0000000000-0000000999.csv", "0000001000-0000001999.csv",
              "0000002000-0000002999.csv"]:
        assert read_csv(stream_dest, "account", n) == read_csv(batch_dest, "account", n)


FUZZ_SDL = """
type Item @entity {
  id: ID!
  amount: BigInt
  label: String
  count: Int
}
"""


def _random_log(seed, n_bundles=4, bundle_size=100, per_bundle=10):
    """Seeded block-ordered change-log over a few mutable ids: CREATE,
    UPDATE (also on an unseen id, tolerated as a create), DELETE and
    FINAL, with same-block runs.  Returns ({bundle file: events}, stop
    block), the stop block falling inside the last bundle."""
    import random

    rnd = random.Random(seed)
    typed = {
        "amount": lambda: {"Bigint": str(rnd.randint(-10**20, 10**20))},
        "label": lambda: {"String_": rnd.choice(["x", "y,z", 'q"', ""])},
        "count": lambda: {"Int32": rnd.randint(0, 9)},
    }
    live, files = set(), {}
    for b in range(n_bundles):
        start = b * bundle_size
        events = []
        for block in sorted(
            rnd.randrange(start, start + bundle_size) for _ in range(per_bundle)
        ):
            id_ = rnd.choice(["i1", "i2", "i3", "i4"])
            if id_ in live:
                op = rnd.choice([2, 2, 3, 4])
            else:
                op = rnd.choice([1, 2])
            (live.discard if op in (3, 4) else live.add)(id_)
            fields = []
            if op in (1, 2):
                fields = [(n, make()) for n, make in typed.items()
                          if rnd.random() > 0.4] or [("count", typed["count"]())]
            events.append(ev(block, "Item", id_, op, fields))
        files[f"{start:010d}-{start + bundle_size - 1:010d}.jsonl"] = events
    stop = (n_bundles - 1) * bundle_size + rnd.randrange(1, bundle_size)
    return files, stop


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_stream_random_logs_equal_batch_bytes(spark, tmp_path, seed):
    """Seeded random change-logs, one bundle file per trigger: every
    bundled CSV run_stream writes is byte-identical to batch tocsv's,
    including the bundle cut at a stop block inside the last bundle."""
    files, stop = _random_log(seed)
    schema_file = tmp_path / "schema.graphql"
    schema_file.write_text(FUZZ_SDL)
    d = tmp_path / "jsonl" / "item"
    d.mkdir(parents=True)
    now = time.time()
    for i, (fname, events) in enumerate(sorted(files.items())):
        with open(d / fname, "w") as fh:
            for e in events:
                fh.write(json.dumps(e) + "\n")
        os.utime(d / fname, (now + i, now + i))
    src = str(tmp_path / "jsonl")
    batch_dest = str(tmp_path / "batch_csv")
    stream_dest = str(tmp_path / "stream_csv")
    want = tocsv(spark, src, batch_dest, "item", str(schema_file),
                 stop_block=stop, bundle_size=100)
    got = run_stream(spark, src, stream_dest, "item", str(schema_file),
                     stop_block=stop, bundle_size=100, max_files_per_trigger=1)
    names = [os.path.basename(f) for f in got]
    assert names == [os.path.basename(f) for f in want]
    assert names[-1] == f"0000000300-{stop - 1:010d}.csv"
    for n in names:
        assert read_csv(stream_dest, "item", n) == read_csv(batch_dest, "item", n)
