"""Property tests for the swivel-prep operator pipeline (SURVEY.md §5.3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from swivel_spark_prep_spark.catalog import load_table
from swivel_spark_prep_spark.operators.swivel import (
    assign_ids,
    build_vocab,
    cooc_matrix,
    marginals,
    prep,
    shard_cooc,
)


@pytest.fixture(scope="module")
def result(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return prep(docs, window=3, min_count=1, shard_size=8)


def test_vocab_truncated_to_shard_multiple(result):
    assert result.vocab_size % 8 == 0
    assert result.vocab.count() == result.vocab_size


def test_vocab_ids_dense_and_ordered(result):
    rows = result.vocab.orderBy("id").collect()
    assert [r.id for r in rows] == list(range(len(rows)))
    # ordering: count desc, token asc (SURVEY.md Q33 tie-break)
    key = [(-r.cnt, r.tok) for r in rows]
    assert key == sorted(key)


def test_assign_ids_matches_global_row_number(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    two_pass = assign_ids(counts, [F.col("cnt").desc(), F.col("tok").asc()])
    rows = two_pass.orderBy("id").collect()
    expect = sorted(rows, key=lambda r: (-r.cnt, r.tok))
    assert [r.tok for r in rows] == [r.tok for r in expect]
    assert [r.id for r in rows] == list(range(len(rows)))


def test_assign_ids_stable_across_calls_on_shuffled_input(spark):
    # ≥10k keys coming out of a shuffle: the range exchange's bounds
    # come from a sample of rows whose order differs between runs, so
    # the count pass and the ranking pass must read one materialization
    n = 12_000
    counts = (
        spark.range(0, 6 * n, numPartitions=8)
        .select((F.col("id") % n).alias("k"), (F.col("id") % 5).alias("w"))
        .groupBy("k")
        .agg(F.sum("w").alias("cnt"))
    )
    expect = [r.k for r in sorted(counts.collect(), key=lambda r: (-r.cnt, r.k))]
    for _ in range(3):
        got = assign_ids(counts, [F.col("cnt").desc(), F.col("k").asc()])
        rows = sorted(got.select("k", "id").collect(), key=lambda r: r.id)
        assert [r.id for r in rows] == list(range(n))
        assert [r.k for r in rows] == expect


def test_cooc_symmetric(result):
    # M = Mᵀ: joining the matrix to its transpose finds every entry with
    # equal weight.
    m = result.cooc
    mt = m.select(
        F.col("col_id").alias("row_id"),
        F.col("row_id").alias("col_id"),
        F.col("w").alias("w_t"),
    )
    joined = m.join(mt, ["row_id", "col_id"], "full_outer")
    bad = joined.filter(
        F.col("w").isNull()
        | F.col("w_t").isNull()
        | (F.abs(F.col("w") - F.col("w_t")) > 1e-9)
    )
    assert bad.count() == 0


def test_marginals_consistency(result):
    # Σ row_sums = Σ col_sums = total matrix mass (ties Q34 ↔ Q35).
    total = result.cooc.agg(F.sum("w")).collect()[0][0]
    rs = result.row_sums.agg(F.sum("row_sum")).collect()[0][0]
    cs = result.col_sums.agg(F.sum("col_sum")).collect()[0][0]
    assert math.isclose(rs, total, rel_tol=1e-9)
    assert math.isclose(cs, total, rel_tol=1e-9)


def test_sharding_partition_property(result):
    # Every (i,j) in exactly one shard; shard coords consistent with the
    # modulo layout; nnz conserved.
    n = result.num_shards
    shards = result.shards
    assert shards.count() == result.cooc.count()
    bad = shards.filter(
        (F.col("row_shard") != F.col("row_id") % n)
        | (F.col("col_shard") != F.col("col_id") % n)
        | (F.col("local_row") != (F.col("row_id") / n).cast("long"))
        | (F.col("local_col") != (F.col("col_id") / n).cast("long"))
    )
    assert bad.count() == 0
    # shard mass sums to total mass
    total = result.cooc.agg(F.sum("w")).collect()[0][0]
    shard_mass = shards.groupBy("row_shard", "col_shard").agg(
        F.sum("w").alias("m")
    )
    assert math.isclose(
        shard_mass.agg(F.sum("m")).collect()[0][0], total, rel_tol=1e-9
    )


def test_upper_triangle_doubles_to_symmetric(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    vocab = build_vocab(docs, min_count=1, shard_size=1)
    upper = cooc_matrix(docs, vocab, window=3, symmetric=False)
    full = cooc_matrix(docs, vocab, window=3, symmetric=True)
    # total mass doubles exactly (diagonal included on both sides)
    up_mass = upper.agg(F.sum("w")).collect()[0][0]
    full_mass = full.agg(F.sum("w")).collect()[0][0]
    assert math.isclose(full_mass, 2 * up_mass, rel_tol=1e-9)


def test_salted_agg_equals_plain(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    vocab = build_vocab(docs, min_count=1, shard_size=1)
    plain = cooc_matrix(docs, vocab, window=3)
    salted = cooc_matrix(docs, vocab, window=3, salt_partial_agg=4)
    diff = (
        plain.withColumnRenamed("w", "w_a")
        .join(salted.withColumnRenamed("w", "w_b"), ["row_id", "col_id"], "full_outer")
        .filter(
            F.col("w_a").isNull()
            | F.col("w_b").isNull()
            | (F.abs(F.col("w_a") - F.col("w_b")) > 1e-9)
        )
    )
    assert diff.count() == 0


def test_write_outputs_roundtrip(tmp_path, spark, sf_dir, result):
    from swivel_spark_prep_spark.operators.swivel import write_outputs

    out = str(tmp_path / "swivel_out")
    write_outputs(result, out, tfrecord=True)
    # vocab text has V lines in id order
    vocab_lines = spark.read.text(f"{out}/row_vocab.txt").count()
    assert vocab_lines == result.vocab_size
    # shards parquet partition-prunes on shard coords
    shards = spark.read.parquet(f"{out}/shards")
    assert shards.count() == result.cooc.count()
    one = shards.filter((F.col("row_shard") == 0) & (F.col("col_shard") == 0))
    assert "PartitionFilters" in one._jdf.queryExecution().toString() or one.count() > 0


def test_tfrecord_format_roundtrip(tmp_path):
    from swivel_spark_prep_spark.sinks.tfrecord import (
        encode_example,
        read_tfrecord,
        write_tfrecord,
    )

    ex = encode_example(
        {
            "global_row": ("int64", [0, 4, 8]),
            "sparse_value": ("float", [0.5, 1.25]),
            "name": ("bytes", [b"shard-000-000"]),
        }
    )
    path = str(tmp_path / "t" / "x.pb")
    write_tfrecord(path, [ex, ex])
    back = read_tfrecord(path)  # asserts both CRCs internally
    assert back == [ex, ex]


def test_tfrecord_shard_files_exist(tmp_path, spark, result):
    from swivel_spark_prep_spark.sinks.tfrecord import write_swivel_shards, read_tfrecord
    import os

    out = str(tmp_path / "tfr")
    n_files = write_swivel_shards(result, out)
    files = sorted(os.listdir(out))
    assert n_files == len(files) > 0
    payloads = read_tfrecord(os.path.join(out, files[0]))
    assert len(payloads) == 1 and len(payloads[0]) > 0


def test_crc32c_public_vectors():
    """Pin CRC32C (Castagnoli) against the RFC 3720 §B.4 test vectors —
    independent of our table construction."""
    from swivel_spark_prep_spark.sinks.tfrecord import crc32c

    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43


def test_tfexample_golden_bytes():
    """Pin the tf.train.Example wire format with hand-assembled protobuf
    bytes (Example{1: Features{1: map entries}}, Feature{1: BytesList |
    2: FloatList | 3: Int64List}, packed numeric lists). These literals
    were derived from the public protobuf wire spec, NOT from the encoder
    under test — a drop-in TF reader must accept our bytes verbatim."""
    from swivel_spark_prep_spark.sinks.tfrecord import encode_example

    # {"a": int64 [1]} — smallest complete Example
    assert encode_example({"a": ("int64", [1])}) == bytes.fromhex(
        "0a0c"          # Example.features (len 12)
        "0a0a"          # Features.feature map entry (len 10)
        "0a0161"        # key = "a"
        "1205"          # value = Feature (len 5)
        "1a03"          # Feature.int64_list (len 3)
        "0a0101"        # Int64List.value packed varints: [1]
    )
    # {"w": float [1.5, -2.0]} — IEEE754 LE packed floats
    assert encode_example({"w": ("float", [1.5, -2.0])}) == bytes.fromhex(
        "0a13" "0a11" "0a0177" "120c"
        "120a"          # Feature.float_list (len 10)
        "0a08"          # FloatList.value packed (len 8)
        "0000c03f"      # 1.5
        "000000c0"      # -2.0
    )
    # {"n": int64 [-1], "s": bytes [b"hi"]} — negative int64 is a 10-byte
    # two's-complement varint (no zigzag); map entries sorted by key
    assert encode_example({"s": ("bytes", [b"hi"]), "n": ("int64", [-1])}) == bytes.fromhex(
        "0a22"
        "0a13" "0a016e" "120e" "1a0c" "0a0a" "ffffffffffffffffff01"
        "0a0b" "0a0173" "1206" "0a04" "0a026869"
    )


def test_tfrecord_framing_golden_bytes(tmp_path):
    """Pin the TFRecord container layout byte-for-byte: uint64-LE length,
    masked CRC32C of the length bytes, payload, masked CRC32C of the
    payload, with mask(crc) = ((crc>>15 | crc<<17) + 0xa282ead8) mod 2^32.
    CRC function itself is pinned by the RFC vectors above."""
    import struct

    from swivel_spark_prep_spark.sinks.tfrecord import (
        _masked_crc,
        write_tfrecord,
    )

    path = str(tmp_path / "g.tfrecord")
    write_tfrecord(path, [b"abc"])
    with open(path, "rb") as fh:
        raw = fh.read()
    length = struct.pack("<Q", 3)
    expected = (
        length
        + struct.pack("<I", _masked_crc(length))
        + b"abc"
        + struct.pack("<I", _masked_crc(b"abc"))
    )
    assert raw == expected
    # masked-CRC formula spot-check against an independently computed value:
    # crc32c(b"abc") = 0x364B3FB7 → mask = ((c>>15)|(c<<17))+0xa282ead8
    c = 0x364B3FB7
    assert _masked_crc(b"abc") == (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def test_example_protobuf_roundtrip():
    """decode_example is the exact inverse of encode_example across all
    three feature kinds, including negative int64 and empty lists."""
    from swivel_spark_prep_spark.sinks.tfrecord import (
        decode_example,
        encode_example,
    )

    feats = {
        "ids": ("int64", [0, 1, -1, 2**62, -(2**62)]),
        "vals": ("float", [0.0, 1.5, -2.25]),
        "names": ("bytes", [b"abc", b"", b"\x00\xff"]),
        "empty": ("int64", []),
    }
    got = decode_example(encode_example(feats))
    assert set(got) == set(feats)
    assert got["ids"] == feats["ids"]
    assert got["names"] == feats["names"]
    kind, vals = got["vals"]
    assert kind == "float" and vals == [0.0, 1.5, -2.25]
    assert got["empty"] == ("int64", [])  # kind survives an empty list


def test_tfrecord_distributed_source_roundtrip(spark, sf_dir, tmp_path):
    """write_swivel_shards → read_tfrecord_records + decode_example must
    reproduce every shard's feature payload (distributed read ≡ the
    local test-utility reader, CRCs verified on the executor)."""
    import glob

    from swivel_spark_prep_spark.operators.swivel import prep
    from swivel_spark_prep_spark.sinks.tfrecord import (
        decode_example,
        read_tfrecord,
        write_swivel_shards,
    )
    from swivel_spark_prep_spark.sources import read_corpus_text, read_tfrecord_records

    corpus = tmp_path / "c.txt"
    corpus.write_text("a b c a b\nb c d e\na a b c d\n" * 4)
    docs = read_corpus_text(spark, str(corpus))
    result = prep(docs, window=2, min_count=1, shard_size=2)
    out = str(tmp_path / "shards")
    n = write_swivel_shards(result, out)
    assert n > 0

    rows = read_tfrecord_records(spark, f"{out}/*.pb").collect()
    assert len(rows) == n  # one Example per shard file
    by_file = {r.file.split("/")[-1]: bytes(r.payload) for r in rows}
    for f in glob.glob(f"{out}/*.pb"):
        want = read_tfrecord(f)
        assert by_file[f.split("/")[-1]] == want[0]
        feats = decode_example(want[0])
        assert {"global_row", "global_col", "sparse_local_row",
                "sparse_local_col", "sparse_value"} <= set(feats)
