"""format("mongodump") bulk snapshot source: discovery/provenance,
newline-aligned byte-range splitting (exactly-once lines), and the
end-to-end dump → snapshot_load → lake tables path with extended-JSON
typing identical to streamed CDC."""

from __future__ import annotations

import json

import pytest

from mongodb_cdc_delta_spark.cdc.mongodump import (
    MongoDumpReader,
    register_mongodump_source,
)
from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor

# deep ingest e2e: excluded from the fast lane (see pytest.ini)
pytestmark = pytest.mark.slow


def _mk_dump(tmp_path, db="shop", colls=("users", "orders"), n=5):
    root = tmp_path / "dump"
    for coll in colls:
        d = root / db
        d.mkdir(parents=True, exist_ok=True)
        lines = []
        for i in range(n):
            lines.append(
                json.dumps(
                    {
                        "_id": {"$oid": f"{i:024x}"},
                        "name": f"{coll}-{i}",
                        "amount": {"$numberLong": str(100 + i)},
                        "created": {"$date": {"$numberLong": "1700000000000"}},
                    }
                )
            )
        (d / f"{coll}.json").write_text("\n".join(lines) + "\n")
    return str(root)


def test_discovery_and_provenance(spark, tmp_path):
    root = _mk_dump(tmp_path)
    register_mongodump_source(spark)
    df = spark.read.format("mongodump").option("path", root).load()
    rows = df.collect()
    assert len(rows) == 10
    assert {(r.db, r.collection) for r in rows} == {
        ("shop", "users"),
        ("shop", "orders"),
    }
    assert all(json.loads(r.value)["name"] for r in rows)


@pytest.mark.parametrize("split_bytes", [1, 7, 64, 1000, 10**9])
def test_byte_splits_read_every_line_exactly_once(tmp_path, split_bytes):
    # pure-reader test over every pathological split size, including
    # splits far smaller than one line (1 byte) — the Hadoop text-split
    # contract must deliver each line exactly once regardless
    root = _mk_dump(tmp_path, colls=("users",), n=50)
    reader = MongoDumpReader(
        {"path": root, "splitSizeMb": str(split_bytes / (1024 * 1024))}
    )
    got = []
    for split in reader.partitions():
        got.extend(v for v, _db, _c in reader.read(split))
    expect = [
        ln
        for ln in (tmp_path / "dump" / "shop" / "users.json")
        .read_text()
        .splitlines()
        if ln.strip()
    ]
    assert got == expect if split_bytes >= 10**9 else sorted(got) == sorted(
        expect
    )
    assert len(got) == 50


def test_spark_parallel_read_with_small_splits(spark, tmp_path):
    root = _mk_dump(tmp_path, colls=("users",), n=40)
    register_mongodump_source(spark)
    df = (
        spark.read.format("mongodump")
        .option("path", root)
        .option("splitSizeMb", str(200 / (1024 * 1024)))  # ~200-byte splits
        .load()
    )
    assert df.rdd.getNumPartitions() > 1
    names = sorted(json.loads(r.value)["name"] for r in df.collect())
    assert names == sorted(f"users-{i}" for i in range(40))


def test_dump_to_lake_end_to_end(spark, tmp_path):
    root = _mk_dump(tmp_path, n=4)
    ing = CDCIngestor(spark, str(tmp_path / "lake"))
    stats = ing.snapshot_load_dump(root, batch_id=1)
    assert set(stats) == {"shop.users", "shop.orders"}
    users = ing.table("shop_users").read().collect()
    assert len(users) == 4
    by_id = {r["_id"]: r for r in users}
    # extended-JSON typing matches the streaming path: $oid → hex string,
    # $numberLong → long, $date → timestamp
    assert f"{2:024x}" in by_id
    r = by_id[f"{2:024x}"]
    assert r["amount"] == 102
    assert str(type(r["created"]).__name__) == "datetime"
    # replay with the same batch_id is idempotent (txn guard)
    v = ing.table("shop_users").version()
    ing.snapshot_load_dump(root, batch_id=1)
    assert ing.table("shop_users").version() == v


def test_missing_path_and_empty_dir_raise(spark, tmp_path):
    with pytest.raises(Exception):
        MongoDumpReader({})
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception, match="no .json"):
        MongoDumpReader({"path": str(empty)}).partitions()


def _load_with_datasource(spark, ing, root, batch_id=1):
    """The reference load for snapshot_load_dump: each discovered file
    read through format("mongodump") and ingested with snapshot_load."""
    from mongodb_cdc_delta_spark.cdc.mongodump import _discover

    register_mongodump_source(spark)
    out = {}
    for path, db, coll in sorted(_discover(root)):
        docs = spark.read.format("mongodump").option("path", path).load()
        out[f"{db}.{coll}"] = ing.snapshot_load(docs, db, coll, batch_id=batch_id)
    return out


def test_text_and_python_readers_load_identical_tables(spark, tmp_path):
    """The native-text SC-008 path and the portable python DataSource
    path must land byte-identical table contents (same typing, same
    metadata columns modulo ingest timestamps), and both report the
    same per-collection stats keys."""
    root = _mk_dump(tmp_path, n=7)
    ing_t = CDCIngestor(spark, str(tmp_path / "lake_text"))
    ing_p = CDCIngestor(spark, str(tmp_path / "lake_py"))
    st_t = ing_t.snapshot_load_dump(root, batch_id=1)
    st_p = _load_with_datasource(spark, ing_p, root)
    assert set(st_t) == set(st_p) == {"shop.users", "shop.orders"}
    for tbl in ("shop_users", "shop_orders"):
        # exclude per-ingest metadata (wall-clock event/ingest timestamps,
        # synthetic source offsets) — everything else must be identical
        cols = [
            c
            for c in ing_t.table(tbl).read().columns
            if c == "_id" or not c.startswith("_")
        ]
        assert {"amount", "created", "name"} <= set(cols)
        rows_t = sorted(
            map(tuple, ing_t.table(tbl).read().select(*cols).collect())
        )
        rows_p = sorted(
            map(tuple, ing_p.table(tbl).read().select(*cols).collect())
        )
        assert rows_t == rows_p
    # per-collection stats carry that collection's append only
    assert set(st_t["shop.users"].collections) == {"shop_users"}


def test_text_reader_rejects_empty_dir(spark, tmp_path):
    ing = CDCIngestor(spark, str(tmp_path / "lake"))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no .json"):
        ing.snapshot_load_dump(str(empty))


def test_text_reader_url_encoded_paths_drop_nothing(spark, tmp_path):
    """r9 ADVICE (high): _metadata.file_path is URI-encoded, so a dump
    path containing a space/%/+/non-ASCII char used to match nothing in
    the provenance join — every row of that file silently dropped. The
    decoded join must load them all, and both readers must agree."""
    root = tmp_path / "du mp+dir" / "my%db"
    root.mkdir(parents=True)
    (root / "ol' coll.json").write_text(
        "\n".join(json.dumps({"_id": str(i), "n": i}) for i in range(9))
        + "\n"
    )
    (root / "plain.json").write_text(json.dumps({"_id": "x", "n": 99}) + "\n")
    ing_t = CDCIngestor(spark, str(tmp_path / "lake_text"))
    ing_p = CDCIngestor(spark, str(tmp_path / "lake_py"))
    st_t = ing_t.snapshot_load_dump(str(tmp_path / "du mp+dir"), batch_id=1)
    st_p = _load_with_datasource(spark, ing_p, str(tmp_path / "du mp+dir"))
    assert set(st_t) == set(st_p) == {"my%db.ol' coll", "my%db.plain"}
    for ing in (ing_t, ing_p):
        assert ing.table("my%db_ol' coll").count() == 9
        assert ing.table("my%db_plain").count() == 1
    assert st_t["my%db.ol' coll"].dlq_rows == 0


def test_dlq_attribution_per_collection_both_readers(spark, tmp_path):
    """r9 verdict #6: a dead-lettered line IS attributable — its file's
    collection is known from discovery even when its JSON is garbage.
    Each reader must report per-collection dlq_rows (not a batch-level
    "_dlq" bucket), and the clean rows must still land."""
    root = tmp_path / "dump"
    for coll, bad in (("users", "{not json"), ("orders", '"dangling')):
        d = root / "shop"
        d.mkdir(parents=True, exist_ok=True)
        lines = [json.dumps({"_id": str(i), "n": i}) for i in range(4)]
        lines.insert(2, bad)  # one unparseable line mid-file
        (d / f"{coll}.json").write_text("\n".join(lines) + "\n")
    for reader, lake in (("text", "lake_t"), ("python", "lake_p")):
        ing = CDCIngestor(spark, str(tmp_path / lake))
        if reader == "text":
            st = ing.snapshot_load_dump(str(root), batch_id=1)
        else:
            st = _load_with_datasource(spark, ing, str(root))
        assert set(st) == {"shop.users", "shop.orders"}, reader
        for coll in ("users", "orders"):
            assert st[f"shop.{coll}"].dlq_rows == 1, (reader, coll)
            assert st[f"shop.{coll}"].dlq_by_collection == {
                f"shop.{coll}": 1
            }, reader
            assert ing.table(f"shop_{coll}").count() == 4, (reader, coll)
        # the DLQ table rows exist and the residue bucket is empty
        assert ing.table("_dlq").count() == 2, reader


def test_envelope_names_json_escaped(spark, tmp_path):
    """r9 ADVICE: a db/collection name containing a double quote or
    backslash must not malform the synthetic envelope (which would
    dead-letter the whole file)."""
    db = 'we"ird\\db'
    d = tmp_path / "dump" / db
    d.mkdir(parents=True)
    (d / 'co"ll.json').write_text(
        "\n".join(json.dumps({"_id": str(i), "n": i}) for i in range(3))
        + "\n"
    )
    ing = CDCIngestor(spark, str(tmp_path / "lake"))
    st = ing.snapshot_load_dump(str(tmp_path / "dump"), batch_id=1)
    key = f'{db}.co"ll'
    assert set(st) == {key}
    assert st[key].dlq_rows == 0
    assert ing.table(f'{db}_co"ll').count() == 3
