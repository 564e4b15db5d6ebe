import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen

SCALE = 0.0005


def test_same_seed_same_tables_other_seed_differs():
    a = datagen.generate_tables(7, SCALE)
    b = datagen.generate_tables(7, SCALE)
    c = datagen.generate_tables(8, SCALE)
    assert list(a) == list(datagen.table_sizes(SCALE))
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["events"].equals(c["events"])
    assert not a["documents"].equals(c["documents"])


def test_tables_have_fixture_schemas_and_sizes():
    sizes = datagen.table_sizes(SCALE)
    tables = datagen.generate_tables(1, SCALE)
    for name, t in tables.items():
        assert t.num_rows == sizes[name], name
    assert tables["events"].schema.names == [
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    assert str(tables["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(tables["nation"].schema.field("n_regionkey").type) == "int32"
    emb = np.stack(tables["embeddings"].column("embedding").to_pylist())
    assert emb.shape[1] == datagen.EMB_DIM
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)


def test_write_tables_reuses_a_complete_write(tmp_path):
    out = datagen.write_tables(str(tmp_path / "d"), 3, SCALE)
    first = pq.read_table(f"{out}/events.parquet")
    datagen.write_tables(out, 3, SCALE)
    assert pq.read_table(f"{out}/events.parquet").equals(first)


def test_stream_batches_are_seeded_and_share_their_due_time():
    w = datagen.zipf_weights(datagen.STREAM_USERS)
    a = datagen.stream_batch(np.random.default_rng([5, 0]), 3, 100, 123, w)
    b = datagen.stream_batch(np.random.default_rng([5, 0]), 3, 100, 123, w)
    assert a.equals(b)
    assert a.column("event_id").to_pylist() == list(range(300, 400))
    assert set(a.column("ts").cast("int64").to_pylist()) == {123}
    # Zipf keys: the most frequent key is the first rank
    keys = datagen.stream_batch(np.random.default_rng(1), 0, 20000, 0, w).column("user_id")
    counts = np.bincount(keys.to_numpy())
    assert counts.argmax() == 0
