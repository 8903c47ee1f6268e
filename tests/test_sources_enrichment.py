"""Tests for sources (S7 JSON sink, S13 XML reader, M14 archive
explode), JSON navigation (P10/F15), enrichment stand-ins (M12/M13),
and the S6 merge-upsert sink."""

from __future__ import annotations

import io
import json
import tarfile
import zipfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P10 / F15 — json_nav
# ---------------------------------------------------------------------------

NESTED = {
    "a": {"k": 1, "b": [{"k": "two"}, {"c": {"k": [3]}}]},
    "k": {"deep": True},
    "list": [1, 2],
}


def test_py_json_find_key_matches_reference_semantics():
    from mel_tnnt_spark.functions.json_nav import py_json_find_key

    # every value stored under "k", any depth, dicts+lists, doc order
    assert py_json_find_key(NESTED, "k") == [1, "two", [3], {"deep": True}]
    assert py_json_find_key(NESTED, "zzz") == []
    assert py_json_find_key([NESTED, {"k": 9}], "k")[-1] == 9


def test_py_json_find_value_parent_lookup():
    from mel_tnnt_spark.functions.json_nav import py_json_find_value

    obj = {"x": {"name": "alice", "role": "dev"}, "y": [{"name": "bob"}]}
    parents = py_json_find_value(obj, "alice")
    assert parents == [{"name": "alice", "role": "dev"}]


def test_py_deep_merge_matches_dict_update():
    from mel_tnnt_spark.functions.json_nav import py_deep_merge

    d = {"a": {"x": 1, "y": 2}, "b": 1}
    u = {"a": {"y": 20, "z": 30}, "c": 3}
    assert py_deep_merge(d, u) == {"a": {"x": 1, "y": 20, "z": 30}, "b": 1, "c": 3}
    # right side replaces scalar-with-dict and dict-with-scalar
    assert py_deep_merge({"a": 1}, {"a": {"b": 2}}) == {"a": {"b": 2}}
    assert py_deep_merge({"a": {"b": 2}}, {"a": 1}) == {"a": 1}


def test_json_find_key_and_merge_columns(spark):
    from mel_tnnt_spark.functions.json_nav import json_deep_merge, json_find_key

    df = spark.createDataFrame(
        [
            (1, json.dumps(NESTED), '{"a":{"y":9}}'),
            (2, "not json", "{}"),
            (3, None, None),
        ],
        "id int, j string, patch string",
    )
    got = {
        r["id"]: (r["found"], r["merged"])
        for r in df.select(
            "id",
            json_find_key(F.col("j"), "k").alias("found"),
            json_deep_merge(F.col("j"), F.col("patch")).alias("merged"),
        ).collect()
    }
    assert got[1][0] == ["1", "two", "[3]", '{"deep":true}']
    m = json.loads(got[1][1])
    assert m["a"]["y"] == 9 and m["a"]["k"] == 1  # merged, left keys kept
    assert got[2][0] == []  # invalid json -> empty, not error
    assert got[3][0] is None and json.loads(got[3][1]) == {}


# ---------------------------------------------------------------------------
# S7 — JSON sink round-trip
# ---------------------------------------------------------------------------

def test_json_sink_roundtrip(spark, tmp_path):
    from mel_tnnt_spark.sources.json_io import read_json_docs, write_json_docs

    df = spark.createDataFrame(
        [(1, "alpha", None), (2, None, 3.5)], "doc_id bigint, title string, score double"
    )
    path = str(tmp_path / "docs_json")
    write_json_docs(df, path)
    back = read_json_docs(spark, path, df.schema)
    assert sorted(back.collect()) == sorted(df.collect())
    # explicit nulls serialized (schema reconstructible from files)
    raw = spark.sparkContext.textFile(path).collect()
    assert any('"title":null' in line for line in raw)


# ---------------------------------------------------------------------------
# S13 — XML metadata reader
# ---------------------------------------------------------------------------

def _xml(path: str, length: int = 10, mime: str = "text/plain") -> str:
    return (
        f"<Meta><METADATA><ABSOLUTEPATH>{path}</ABSOLUTEPATH>"
        f"<FILELENGTH>{length}</FILELENGTH><MIMETYPE>{mime}</MIMETYPE>"
        "</METADATA></Meta>"
    )


def test_xml_metadata_reader(spark):
    from mel_tnnt_spark.sources.xml_meta import parse_metadata_xml

    rows = [
        ("r/a.py", _xml("r/a.py", 42)),          # good
        ("r/b.py", _xml("r/OTHER/b.py")),         # same filename, wrong folder
        ("r/c.py", "<not-xml"),                   # malformed -> NULL meta
        ("r/d.py", _xml("\\\\?\\r/d.py", 7)),     # extended-win-path prefix
    ]
    df = spark.createDataFrame(rows, "abs_path string, metadata_xml string")
    got = {r["abs_path"]: r for r in parse_metadata_xml(df).collect()}
    assert got["r/a.py"]["meta_read_ok"] and got["r/a.py"]["meta"]["FILELENGTH"] == 42
    assert not got["r/b.py"]["meta_read_ok"]  # correspondence guard
    assert not got["r/c.py"]["meta_read_ok"]
    assert got["r/d.py"]["meta_read_ok"] and got["r/d.py"]["meta"]["FILELENGTH"] == 7


# ---------------------------------------------------------------------------
# M14 — archive explode
# ---------------------------------------------------------------------------

def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def _tar_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_archive_explode(spark):
    import gzip

    from mel_tnnt_spark.sources.archives import explode_archive_members

    rows = [
        Row(doc_id="z", payload=_zip_bytes({"a.txt": b"alpha", "d/b.txt": b"beta"})),
        Row(doc_id="t", payload=_tar_bytes({"x.py": b"print(1)"})),
        Row(doc_id="g", payload=gzip.compress(b"gzipped text")),
        Row(doc_id="p", payload=b"plain bytes"),
        Row(doc_id="c", payload=b"PK\x03\x04corrupt!!!"),
        Row(doc_id="n", payload=None),
    ]
    out = explode_archive_members(spark.createDataFrame(rows)).collect()
    by_doc: dict[str, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    z = sorted(by_doc["z"], key=lambda r: r["member_index"])
    assert [(r["member_path"], bytes(r["member_content"])) for r in z] == [
        ("a.txt", b"alpha"),
        ("d/b.txt", b"beta"),
    ]
    assert bytes(by_doc["t"][0]["member_content"]) == b"print(1)"
    assert bytes(by_doc["g"][0]["member_content"]) == b"gzipped text"
    # doc-0 pass-through convention for plain / corrupt / null payloads
    assert by_doc["p"][0]["container"] == "none"
    assert bytes(by_doc["p"][0]["member_content"]) == b"plain bytes"
    assert by_doc["c"][0]["container"] == "none"
    assert by_doc["n"][0]["member_content"] is None


# ---------------------------------------------------------------------------
# M12/M13 — enrichment stand-ins
# ---------------------------------------------------------------------------

TEXT = "Alice Johnson built the parser. She shipped it quickly. Bob praised Alice Johnson."


def test_pos_tag_offsets_and_shape():
    from mel_tnnt_spark.operators.enrichment import py_pos_tag

    rows = py_pos_tag(TEXT)
    assert all(TEXT[r["starts"] : r["ends"]] == r["token"] for r in rows)
    by_tok = {r["token"]: r for r in rows}
    assert by_tok["Johnson"]["pos"] == "PROPN" and by_tok["Johnson"]["tag"] == "NNP"
    assert by_tok["built"]["pos"] == "VERB" and by_tok["built"]["dep"] == "ROOT"
    assert by_tok["quickly"]["pos"] == "ADV"
    assert by_tok["the"]["pos"] == "DET" and by_tok["the"]["dep"] == "det"
    assert by_tok["shipped"]["lemma"] == "shipp"  # suffix stemmer
    # sentence grouping: three sentences
    assert {r["sent_idx"] for r in rows} == {0, 1, 2}


def test_coref_chains():
    from mel_tnnt_spark.operators.enrichment import py_coref_chains

    rows = py_coref_chains(TEXT)
    by_mention: dict[str, list] = {}
    for r in rows:
        by_mention.setdefault(r["mention"], []).append(r)
    # pronoun "She" resolves to the nearest preceding PROPN run
    assert by_mention["She"][0]["representative"] == "Alice Johnson"
    assert by_mention["it"][0]["representative"] == "Alice Johnson"
    # repeated exact name joins the SAME chain as its first occurrence
    aj = by_mention["Alice Johnson"]
    assert len(aj) == 2 and aj[0]["chain_id"] == aj[1]["chain_id"] == 0
    assert by_mention["She"][0]["chain_id"] == 0


def test_enrichment_spark_stage(spark):
    from mel_tnnt_spark.operators.enrichment import coref_resolve, pos_tag_tokens

    df = spark.createDataFrame([("d1", TEXT), ("d2", "")], "doc_id string, content string")
    pos = pos_tag_tokens(df).collect()
    assert {r["doc_id"] for r in pos} == {"d1"}  # empty doc -> no rows
    cor = coref_resolve(df).collect()
    assert any(r["mention"] == "She" for r in cor)


# ---------------------------------------------------------------------------
# S6 — merge-upsert sink
# ---------------------------------------------------------------------------

def _read_kv(spark, path):
    from mel_tnnt_spark.operators.merge_sink import read_merged

    return {
        (r["k"],): (r["v"],) for r in read_merged(spark, path).collect()
    }


def _bucket_dirs(target):
    """{bucket: dir} of the current snapshot's bucket versions."""
    import os

    from mel_tnnt_spark.operators.merge_sink import snapshots

    return {
        int(b): os.path.join(target, "data", v, f"kb={b}")
        for b, v in snapshots(target)[-1]["buckets"].items()
    }


def test_merge_upsert_insert_update_delete(spark, tmp_path):
    from mel_tnnt_spark.operators.merge_sink import merge_upsert

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    merge_upsert(spark, target, base, keys=("k",))
    assert _read_kv(spark, target) == {(1,): ("a",), (2,): ("b",), (3,): ("c",)}

    changes = spark.createDataFrame(
        [(2, "B", "upsert"), (3, None, "delete"), (4, "d", "upsert"), (9, None, "delete")],
        "k int, v string, op string",
    )
    merge_upsert(spark, target, changes, keys=("k",))
    assert _read_kv(spark, target) == {(1,): ("a",), (2,): ("B",), (4,): ("d",)}


def test_merge_upsert_crash_replay(spark, tmp_path, monkeypatch):
    """A kill after the new bucket versions and the manifest are written
    but before the pointer swap leaves the live table intact; rerunning
    the same merge completes it (Iceberg's commit-pointer model)."""
    import os

    import pytest as _pytest

    from mel_tnnt_spark.operators.merge_sink import current_snapshot, merge_upsert

    target = str(tmp_path / "tbl2")
    base = spark.createDataFrame([(1, "a")], "k int, v string")
    merge_upsert(spark, target, base, keys=("k",))

    changes = spark.createDataFrame([(1, "A2", "upsert")], "k int, v string, op string")
    real = os.rename

    def dying(src, dst, *a, **kw):
        if os.path.basename(src) == "_current.tmp":
            raise RuntimeError("injected kill before the pointer swap")
        return real(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", dying)
    with _pytest.raises(RuntimeError, match="injected kill"):
        merge_upsert(spark, target, changes, keys=("k",))
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(target, "data", "v1"))  # orphan written
    assert current_snapshot(target) == 0
    assert _read_kv(spark, target) == {(1,): ("a",)}  # live untouched

    assert merge_upsert(spark, target, changes, keys=("k",)) == 1  # replay
    assert _read_kv(spark, target) == {(1,): ("A2",)}
    assert current_snapshot(target) == 1


def test_merge_upsert_rejects_duplicate_change_keys(spark, tmp_path):
    import pytest as _pytest

    from mel_tnnt_spark.operators.merge_sink import merge_upsert

    target = str(tmp_path / "tbl4")
    changes = spark.createDataFrame(
        [(1, "x", "upsert"), (1, "y", "upsert")], "k int, v string, op string"
    )
    with _pytest.raises(ValueError, match="multiple change rows"):
        merge_upsert(spark, target, changes, keys=("k",))


def test_lookup_with_fallback_null_payload_primary_hit(spark):
    """A primary-key hit whose payload is NULL is still a primary hit
    and returns ITS null value — not the fallback row's value."""
    from mel_tnnt_spark.operators.linking import lookup_with_fallback

    dim = spark.createDataFrame(
        [(5, "en", None), (6, "en", "x")], "k_id int, k_name string, src string"
    )
    probe = spark.createDataFrame([(5, "en"), (99, "en")], "k_id int, k_name string")
    got = {r["k_id"]: (r["src"], r["match_type"]) for r in
           lookup_with_fallback(probe, dim, "k_id", "k_name", ["src"]).collect()}
    assert got[5] == (None, "primary")    # not ('x', 'fallback')
    assert got[99] == (None, "fallback")  # miss by id -> min_by(k_id=5) row, src NULL


def test_merge_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """O(touched) contract: an incremental merge must leave every
    untouched key-hash bucket's files byte-identical on disk (same
    paths, sizes, mtimes) and rewrite only the buckets its change keys
    hash into — the cost model of a real Iceberg MERGE over a
    bucket-partitioned table."""
    import os

    from mel_tnnt_spark.operators.merge_sink import merge_upsert, read_merged

    target = str(tmp_path / "tblb")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k int, v string"
    )
    merge_upsert(spark, target, base, keys=("k",), n_buckets=8)
    assert len(_bucket_dirs(target)) > 3  # keys actually spread over buckets

    def snapshot():
        snap = {}
        for b, d in _bucket_dirs(target).items():
            for f in os.listdir(d):
                st = os.stat(os.path.join(d, f))
                snap[(b, os.path.join(d, f))] = (st.st_size, st.st_mtime_ns)
        return snap

    before = snapshot()
    changes = spark.createDataFrame([(3, "V3", "upsert")], "k int, v string, op string")
    merge_upsert(spark, target, changes, keys=("k",))
    after = snapshot()

    changed_dirs = {
        b
        for b, p in (set(before) ^ set(after))
        | {p for p in before.keys() & after.keys() if before[p] != after[p]}
    }
    assert len(changed_dirs) == 1, f"rewrote {changed_dirs}, expected exactly one bucket"
    got = {r["k"]: r["v"] for r in read_merged(spark, target).collect()}
    assert got[3] == "V3" and got[5] == "v5" and len(got) == 64


# ---------------------------------------------------------------------------
# XLSX associated-metadata source
# ---------------------------------------------------------------------------

def _xlsx_bytes(rows, shared_strings=True):
    """Minimal OOXML writer (test-side, independent of the reader):
    strings via the shared table or inline, numbers as numeric cells."""
    import io as _io
    import zipfile as _zip

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    shared, sref = [], {}
    cells_xml = []
    for ri, row in enumerate(rows, start=1):
        cs = []
        for ci, v in enumerate(row):
            if v is None:
                continue
            ref = chr(ord("A") + ci) + str(ri)
            if isinstance(v, str):
                if shared_strings:
                    if v not in sref:
                        sref[v] = len(shared)
                        shared.append(v)
                    cs.append(f'<c r="{ref}" t="s"><v>{sref[v]}</v></c>')
                else:
                    cs.append(f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>')
            else:
                cs.append(f'<c r="{ref}"><v>{v}</v></c>')
        cells_xml.append(f'<row r="{ri}">{"".join(cs)}</row>')
    sheet = f'<worksheet {ns}><sheetData>{"".join(cells_xml)}</sheetData></worksheet>'
    sst = (
        f'<sst {ns} count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    buf = _io.BytesIO()
    with _zip.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("xl/workbook.xml", f"<workbook {ns}/>")
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        if shared_strings and shared:
            z.writestr("xl/sharedStrings.xml", sst)
    return buf.getvalue()


@pytest.mark.parametrize("shared", [True, False])
def test_xlsx_reader_real_parse(spark, shared):
    """The pure-python OOXML reader: shared-string AND inline-string
    cell types, numeric cells, absent cells padded to None, header ->
    typed dim with the reference's str/int/float casts."""
    from mel_tnnt_spark.sources.xlsx_io import py_read_xlsx, read_xlsx_dim

    rows = [
        ["species_id", "sci_name", "status", "weight"],
        [7, "Acacia dealbata", "LC", 1.5],
        [12, "Wollemia nobilis", "CR", None],
        [15, "Petaurus gliderus", None, 0.25],
    ]
    payload = _xlsx_bytes(rows, shared_strings=shared)
    raw = py_read_xlsx(payload)
    assert raw[0] == ["species_id", "sci_name", "status", "weight"]
    assert raw[1][1] == "Acacia dealbata" and raw[2][2] == "CR"
    assert raw[2][3] is None  # absent cell padded

    dim = read_xlsx_dim(
        spark, payload, types={"species_id": "int", "weight": "float"}
    )
    got = {r["species_id"]: r for r in dim.collect()}
    assert dim.schema["species_id"].dataType.typeName() == "long"
    assert dim.schema["weight"].dataType.typeName() == "double"
    assert got[7]["sci_name"] == "Acacia dealbata" and got[15]["weight"] == 0.25


def test_xlsx_dim_feeds_lookup_join(spark):
    """End-to-end J1/J2 over the reference's REAL source format: the
    XLSX dim broadcast-joins files by primary id with a fallback key,
    exactly the AssociatedMetadata flow."""
    from mel_tnnt_spark.operators.linking import lookup_with_fallback
    from mel_tnnt_spark.sources.xlsx_io import read_xlsx_dim

    payload = _xlsx_bytes(
        [
            ["file_id", "fname", "species"],
            [1, "a.txt", "Acacia"],
            [2, "b.txt", "Wollemia"],
        ]
    )
    dim = read_xlsx_dim(spark, payload, types={"file_id": "int"})
    probe = spark.createDataFrame(
        [(1, "zzz.txt"), (99, "b.txt"), (50, "none.txt")], "file_id int, fname string"
    )
    got = {
        r["file_id"]: (r["species"], r["match_type"])
        for r in lookup_with_fallback(
            probe, dim, primary_key="file_id", fallback_key="fname",
            payload_cols=["species"],
        ).collect()
    }
    assert got[1] == ("Acacia", "primary")
    assert got[99] == ("Wollemia", "fallback")
    assert got[50] == (None, None)  # miss -> NULL match_type (contract)


def test_merge_upsert_bucket_keys_layout_and_pruned_read(spark, tmp_path):
    """The round-4 scale fix's storage half: a table keyed
    (fingerprint, doc_id) but BUCKETED on (fingerprint,) alone lets a
    probe prune to the buckets its fingerprints hash into — the
    Iceberg bucket(n, fingerprint) layout. Asserts at the FILE level
    that read_merged_pruned lists only the touched bucket dirs, that
    its superset semantics hold, and that layout mismatches raise."""
    import os

    import pytest

    from mel_tnnt_spark.operators.merge_sink import (
        merge_upsert,
        read_merged,
        read_merged_pruned,
    )

    target = str(tmp_path / "fpidx")
    rows = [(i * 37 % 101, i) for i in range(80)]  # fp values spread buckets
    base = spark.createDataFrame(rows, "fingerprint bigint, doc_id bigint")
    merge_upsert(
        spark, target, base, keys=("fingerprint", "doc_id"),
        bucket_keys=("fingerprint",), n_buckets=8,
    )
    assert len(_bucket_dirs(target)) > 3

    probe_fps = [rows[0][0], rows[7][0]]
    probe = spark.createDataFrame([(f,) for f in probe_fps], "fingerprint bigint")
    pruned = read_merged_pruned(spark, target, probe)

    # file-level pruning: every input file comes from a touched bucket
    from pyspark.sql import functions as F

    want_buckets = {
        r[0]
        for r in probe.select(
            F.pmod(F.xxhash64("fingerprint"), F.lit(8)).cast("int")
        ).collect()
    }
    got_dirs = {p.split("kb=")[1].split("/")[0] for p in pruned.inputFiles()}
    assert got_dirs == {str(b) for b in want_buckets}

    # superset semantics: all probe-fingerprint rows present; exact
    # filtering is the caller's join
    got = {(r["fingerprint"], r["doc_id"]) for r in pruned.collect()}
    want = {(f, d) for f, d in rows if f in probe_fps}
    assert want <= got
    assert got < {(r["fingerprint"], r["doc_id"])
                  for r in read_merged(spark, target).collect()}

    # a merge's bucket is still a pure key function: incremental merge
    # on the same layout works and the pruned read sees the new row
    ch = spark.createDataFrame(
        [(probe_fps[0], 999, "upsert")], "fingerprint bigint, doc_id bigint, op string"
    )
    merge_upsert(
        spark, target, ch, keys=("fingerprint", "doc_id"),
        bucket_keys=("fingerprint",),
    )
    assert (probe_fps[0], 999) in {
        (r["fingerprint"], r["doc_id"])
        for r in read_merged_pruned(spark, target, probe).collect()
    }

    # layout pinning: wrong bucket_keys or non-subset bucket_keys raise
    with pytest.raises(ValueError, match="laid out on"):
        merge_upsert(spark, target, ch, keys=("fingerprint", "doc_id"))
    with pytest.raises(ValueError, match="subset"):
        merge_upsert(
            spark, str(tmp_path / "bad"), ch, keys=("doc_id",),
            bucket_keys=("fingerprint",),
        )

    # empty intersection: probe fingerprints absent from every live
    # bucket still returns an empty frame with the right schema
    ghost = spark.createDataFrame([(10**12,)], "fingerprint bigint")
    assert read_merged_pruned(spark, target, ghost).columns == pruned.columns


def test_merge_upsert_file_count_bounded_across_merges(spark, tmp_path):
    """File-count invariant (round-5 find): without repartitioning on
    the bucket column, each merge's write inherits the scan
    partitioning of everything it read, so files per bucket COMPOUND
    across merges (512 -> 3255 in 14 batches on a 64-bucket index)
    and per-merge latency grows with footer reads. Pinned: after any
    number of merges, every bucket dir holds exactly one data file."""
    import os

    from mel_tnnt_spark.operators.merge_sink import merge_upsert

    target = str(tmp_path / "bounded")
    for step in range(4):
        rows = [(step * 200 + i, f"s{step}") for i in range(200)]
        ch = spark.createDataFrame(rows, "k int, v string")
        merge_upsert(spark, target, ch, keys=("k",), n_buckets=8)
    for d in _bucket_dirs(target).values():
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d} holds {len(files)} files"
