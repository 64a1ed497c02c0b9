"""Fixed-width serializations of the driver parquet tables (FIXTURES.md §C).

Generated on demand into a shared temp dir (never committed); used by the
A-family scan queries and the round-trip tests.  Rows are encoded in
primary-key order so ``record_offset`` is deterministic
(= rank * recordLength).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pyarrow.parquet as pq

from hadoop_fixedlengthinputformat_spark.sources.layout import (
    FieldSpec,
    encode_rows,
    parse_layout,
)

# FIXTURES.md §C1-C3 layouts (zero-based starts)
LAYOUTS: dict[str, tuple[int, str, str]] = {
    # table -> (record_length, layout spec, order-by column)
    "nation": (
        40,
        "n_nationkey:0:5:int,n_name:5:30:string,n_regionkey:35:5:int",
        "n_nationkey",
    ),
    "customer": (
        70,
        "c_custkey:0:10:long,c_name:10:30:string,c_nationkey:40:5:int,"
        "c_acctbal:45:12:double(2),c_mktsegment:57:13:string",
        "c_custkey",
    ),
    "lineitem": (
        110,
        "l_orderkey:0:12:long,l_partkey:12:10:long,l_suppkey:22:8:long,"
        "l_linenumber:30:2:int,l_quantity:32:12:double(2),"
        "l_extendedprice:44:12:double(2),l_discount:56:12:double(4),"
        "l_tax:68:12:double(4),l_returnflag:80:1:string,l_linestatus:81:1:string,"
        "l_shipdate:82:10:date",
        "l_orderkey",
    ),
}


def fixture_dir() -> str:
    d = os.path.join(tempfile.gettempdir(), "flif_fixtures")
    os.makedirs(d, exist_ok=True)
    return d


def source_stamp(sf_dir: str) -> str:
    """Content fingerprint of a dataset dir ((name, mtime_ns, size) of
    every parquet).  Every derived-fixture cache key must include it:
    the driver's testdata never changes in place, but
    ``tests/gen_testdata.py`` reruns DO regenerate a dir under the same
    path — a path-only key then serves stale fixed-width bytes against
    fresh parquet oracles (15 phantom parity FAILs, round 3)."""
    parts = []
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, name))
            parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def layout_for(table: str) -> tuple[int, list[FieldSpec]]:
    record_length, spec, _ = LAYOUTS[table]
    return record_length, parse_layout(spec, record_length)


def _fill_nulls(rows: list[dict], fields: list[FieldSpec]) -> None:
    """Fixed-width has no NULL: each missing value becomes its type's
    filler, blank text or zero (LOW-VALUES); consuming oracles mirror
    with COALESCE."""
    for r in rows:
        for f in fields:
            if r.get(f.name) is None:
                r[f.name] = f.kind.filler


def fixed_file_for(sf_dir: str, table: str, encoding: str = "utf-8") -> str:
    """Path of the fixed-width serialization of ``sf_dir/table.parquet``,
    generating it (atomically) on first use.  ``encoding`` produces a
    single-byte-charset variant (e.g. EBCDIC cp037)."""
    record_length, spec, order_col = LAYOUTS[table]
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{table}|v2|{spec}|{encoding}"
        f"|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"{table}-{tag}.fixed")
    if os.path.exists(out):
        return out
    tbl = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    fields = parse_layout(spec, record_length)
    rows = tbl.sort_by(order_col).to_pylist()
    _fill_nulls(rows, fields)
    payload = encode_rows(rows, fields, record_length, encoding=encoding)
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)  # atomic under concurrent callers
    return out


def fixed_gzip_for(sf_dir: str, table: str) -> str:
    """Gzip-compressed variant of ``fixed_file_for`` (whole-file-partition
    read path; the reference rejects compressed input outright,
    FixedLengthRecordReader.java:148-152)."""
    import gzip

    src = fixed_file_for(sf_dir, table)
    out = src + ".gz"
    if os.path.exists(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    with open(src, "rb") as fin, gzip.open(tmp, "wb") as fout:
        fout.write(fin.read())
    os.replace(tmp, out)
    return out


def fixed_file_with_banners(
    sf_dir: str, table: str, header: int = 2, trailer: int = 1
) -> str:
    """Variant of ``fixed_file_for`` wrapped in mainframe-style banner
    records: ``header`` HDR records before the data and ``trailer`` TRL
    records after it, all at the table's record length.  The banner text
    would decode as garbage under the data layout (non-numeric bytes in
    int fields) — exactly why real feeds need skipHeaderRecords /
    skipTrailerRecords rather than a post-scan filter."""
    src = fixed_file_for(sf_dir, table)
    record_length, _, _ = LAYOUTS[table]
    out = src.replace(".fixed", f"-hdr{header}trl{trailer}.fixed")
    if os.path.exists(out):
        return out
    banner = lambda kind, i: (  # noqa: E731
        f"{kind}{i:03d} GENERATED {kind} RECORD -- NOT DATA".ljust(
            record_length
        )[:record_length].encode()
    )
    tmp = out + f".tmp{os.getpid()}"
    with open(src, "rb") as fin, open(tmp, "wb") as f:
        for i in range(header):
            f.write(banner("HDR", i))
        f.write(fin.read())
        for i in range(trailer):
            f.write(banner("TRL", i))
    os.replace(tmp, out)
    return out


COMP_LAYOUT = "c_custkey:0:10:long,bal_d:10:8:comp2,bal_f:18:4:comp1"
COMP_RL = 22


def comp_file_for(sf_dir: str) -> str:
    """Fixed-width fixture with COBOL COMP-1/COMP-2 (big-endian IEEE
    float) fields: customer keys + acctbal as float64 and float32."""
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|comp12|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"customer-comp-{tag}.fixed")
    if os.path.exists(out):
        return out
    tbl = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    fields = parse_layout(COMP_LAYOUT, COMP_RL)
    rows = [
        {"c_custkey": r["c_custkey"], "bal_d": r["c_acctbal"],
         "bal_f": r["c_acctbal"]}
        for r in tbl.sort_by("c_custkey").to_pylist()
    ]
    payload = encode_rows(rows, fields, COMP_RL)
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out


# varlen RDW fixture: documents as IBM RECFM=V records — a 22-byte fixed
# prefix (doc metadata) + the utf-8 text bytes as the variable tail.
RDW_PREFIX_LEN = 22
RDW_PREFIX_LAYOUT = (
    "doc_id:0:8:long,lang:8:2:string,source:10:6:string,n_chars:16:6:int"
)


def rdw_doc_sort_key(r: dict) -> tuple:
    """Total record order for the RDW documents serialization.

    doc_id alone is NOT a total order on driver rolls with duplicate
    ids, and the offset oracles replay the running byte sum — any
    tie-order disagreement shifts every later offset.  Tie-break =
    (md5(text), lang, source) with NULLs as '' — the exact twin of the
    oracle's ``ORDER BY doc_id, md5(COALESCE(text,'')),
    COALESCE(lang,''), COALESCE(source,'')``.
    """
    return (
        r["doc_id"],
        hashlib.md5((r["text"] or "").encode()).hexdigest(),
        r["lang"] or "",
        r["source"] or "",
    )


def rdw_coalesce(r: dict) -> dict:
    """RECFM=V has no NULL concept: blank strings / zero counts / empty
    tail stand in (the COBOL LOW-VALUES convention); oracles mirror
    with COALESCE."""
    return {
        **r,
        "text": r["text"] or "",
        "lang": r["lang"] or "",
        "source": r["source"] or "",
        "n_chars": r["n_chars"] if r["n_chars"] is not None else 0,
    }


def _doc_prefixes(
    sf_dir: str, layout: str, prefix_len: int, cc: bool = False
) -> list[tuple[dict, bytes]]:
    """The coalesced ``documents`` rows in fixture order, each with its
    encoded ``layout`` prefix (one encode over all rows); ``cc`` adds
    each row's ASA carriage-control character first."""
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    rows = [rdw_coalesce(r) for r in sorted(tbl.to_pylist(), key=rdw_doc_sort_key)]
    if cc:
        for rn, r in enumerate(rows):
            r["cc"] = asa_cc(rn)
    flat = encode_rows(rows, parse_layout(layout, prefix_len), prefix_len)
    return [
        (r, flat[i * prefix_len : (i + 1) * prefix_len]) for i, r in enumerate(rows)
    ]


def rdw_file_for(sf_dir: str, index_every: int = 0) -> str:
    """Path of the RDW (variable-length) serialization of
    ``sf_dir/documents.parquet``; ``index_every`` > 0 also writes the
    ``.rdx.json`` record-index sidecar that makes the file splittable."""
    import json
    import struct

    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|rdw|v2|{index_every}"
        f"|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"documents-{tag}.rdw")
    if os.path.exists(out):
        return out
    offsets: list[int] = []
    written = 0
    n = 0
    payload = bytearray()
    for r, prefix in _doc_prefixes(sf_dir, RDW_PREFIX_LAYOUT, RDW_PREFIX_LEN):
        tail = r["text"].encode("utf-8")
        total = 4 + RDW_PREFIX_LEN + len(tail)
        if index_every and n % index_every == 0:
            offsets.append(written)
        rec = struct.pack(">HH", total, 0) + prefix + tail
        payload += rec
        written += len(rec)
        n += 1
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    if index_every:
        with open(tmp + ".idx", "w") as f:
            json.dump(
                {
                    "version": 1,
                    "every": index_every,
                    "prefix_length": RDW_PREFIX_LEN,
                    "offsets": offsets,
                    "n_records": n,
                    "data_bytes": written,
                },
                f,
            )
        os.replace(tmp + ".idx", out + ".rdx.json")
    os.replace(tmp, out)  # atomic under concurrent callers
    return out


def vb_file_for(sf_dir: str, block_size: int = 8192) -> str:
    """RECFM=VB (BDW-blocked) serialization of ``documents.parquet``:
    the rdw_file_for records greedily packed into <= ``block_size``-byte
    blocks, each prefixed by a 4-byte BDW.  Same coalesce + total-order
    rules as the V fixture."""
    import struct

    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|vb|{block_size}"
        f"|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"documents-{tag}.vb.rdw")
    if os.path.exists(out):
        return out
    payload = bytearray()
    block = bytearray()

    def flush():
        if block:
            payload.extend(struct.pack(">HH", 4 + len(block), 0))
            payload.extend(block)
            block.clear()

    for r, prefix in _doc_prefixes(sf_dir, RDW_PREFIX_LAYOUT, RDW_PREFIX_LEN):
        tail = r["text"].encode("utf-8")
        rec = struct.pack(">HH", 4 + RDW_PREFIX_LEN + len(tail), 0) + prefix + tail
        if block and 4 + len(block) + len(rec) > block_size:
            flush()
        block.extend(rec)
    flush()
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out


def vbs_file_for(
    sf_dir: str, block_size: int = 1024, segment_size: int = 256
) -> str:
    """RECFM=VBS (spanned + blocked) serialization of
    ``documents.parquet``: logical records split into SDW segments
    (codes 1/3/2) that fill ``block_size``-byte BDW blocks exactly,
    records continuing across blocks.  The small segment cap forces
    most document texts to actually SPAN (multi-segment, multi-block) —
    reading this file exercises the assembler, not just the framing.
    Same coalesce + total-order rules as the V fixture."""
    import struct

    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|vbs|{block_size}|{segment_size}"
        f"|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"documents-{tag}.vbs.rdw")
    if os.path.exists(out):
        return out
    payload_out = bytearray()
    block = bytearray()

    def flush():
        if block:
            payload_out.extend(struct.pack(">HH", 4 + len(block), 0))
            payload_out.extend(block)
            block.clear()

    seg_cap = segment_size - 4
    for r, prefix in _doc_prefixes(sf_dir, RDW_PREFIX_LAYOUT, RDW_PREFIX_LEN):
        tail = r["text"].encode("utf-8")
        payload = prefix + tail
        view = memoryview(payload)
        seg_idx = 0
        while True:
            avail = block_size - 4 - len(block) - 4
            need = 1 if len(view) > 0 else 0
            if avail < need:
                flush()
                continue
            take = min(len(view), avail, seg_cap)
            chunk = bytes(view[:take])
            view = view[take:]
            last = len(view) == 0
            code = (
                0 if (seg_idx == 0 and last)
                else 1 if seg_idx == 0
                else 2 if last
                else 3
            )
            block.extend(struct.pack(">HBB", 4 + len(chunk), code, 0))
            block.extend(chunk)
            seg_idx += 1
            if last:
                break
    flush()
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(bytes(payload_out))
    os.replace(tmp, out)
    return out


# RECFM=FBA (ASA carriage control) fixture: nation as a mainframe print
# file — every record's byte 0 is an ANSI/ASA control character that
# positions the line BEFORE printing ('1' top-of-form, '0' double-space,
# '-' triple-space, '+' overprint, ' ' single-space).  z/OS datasets with
# RECFM=FBA/VBA carry exactly this layout; the reference's fixed-length
# model reads them as data bytes with no channel interpretation.
ASA_RL = 41
ASA_LAYOUT = (
    "cc:0:1:string,n_nationkey:1:5:int,n_name:6:30:string,n_regionkey:36:5:int"
)


def asa_cc(rn: int) -> str:
    """Deterministic control char for data row ``rn`` (0-based rank in
    n_nationkey order) — SQL-derivable so oracles recompute it:
    page break every 10 rows, with one double-space, one overprint and
    one triple-space per page."""
    m = rn % 10
    return {0: "1", 3: "+", 5: "0", 8: "-"}.get(m, " ")


def asa_file_for(sf_dir: str) -> str:
    """Path of the RECFM=FBA serialization of ``sf_dir/nation.parquet``
    (ASA control byte + the nation layout shifted right by one)."""
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|asa|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"nation-asa-{tag}.fixed")
    if os.path.exists(out):
        return out
    tbl = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    fields = parse_layout(ASA_LAYOUT, ASA_RL)
    rows = []
    for rn, r in enumerate(tbl.sort_by("n_nationkey").to_pylist()):
        rows.append({
            "cc": asa_cc(rn),
            "n_nationkey": r["n_nationkey"],
            "n_name": r["n_name"] or "",
            "n_regionkey": r["n_regionkey"] if r["n_regionkey"] is not None else 0,
        })
    payload = encode_rows(rows, fields, ASA_RL)
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out


# RECFM=VBA fixture: the documents RDW serialization with an ASA
# control byte leading each record's fixed prefix (variable-length
# print datasets — SYSOUT spools, z/OS job logs).
VBA_PREFIX_LEN = 23
VBA_PREFIX_LAYOUT = (
    "cc:0:1:string,doc_id:1:8:long,lang:9:2:string,source:11:6:string,"
    "n_chars:17:6:int"
)


def vba_file_for(sf_dir: str) -> str:
    """RECFM=V(A) serialization of ``documents.parquet``: RDW records
    whose prefix leads with the asa_cc control byte (rank-derived, same
    rule as the FBA fixture); same coalesce + total-order rules as the
    V fixture."""
    import struct

    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|vba|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"documents-{tag}.vba.rdw")
    if os.path.exists(out):
        return out
    payload = bytearray()
    for r, prefix in _doc_prefixes(sf_dir, VBA_PREFIX_LAYOUT, VBA_PREFIX_LEN, cc=True):
        tail = r["text"].encode("utf-8")
        total = 4 + VBA_PREFIX_LEN + len(tail)
        payload += struct.pack(">HH", total, 0) + prefix + tail
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out


ODO_LAYOUT = "n_nationkey:0:5:int,n_vals:5:1:int,vals:6:5:int[3->n_vals]"
ODO_RL = 21


def odo_file_for(sf_dir: str) -> str:
    """OCCURS DEPENDING ON fixture: per nation row a 1-byte counter
    (1 + key % 3) says how many of the 3 reserved int slots are data;
    valid elements are SQL-derivable (key+1, 2*key, regionkey) so the
    oracle recomputes them, unused slots are zero filler."""
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|odo|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"nation-odo-{tag}.fixed")
    if os.path.exists(out):
        return out
    tbl = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    fields = parse_layout(ODO_LAYOUT, ODO_RL)
    rows = []
    for r in tbl.sort_by("n_nationkey").to_pylist():
        k = r["n_nationkey"]
        cnt = 1 + k % 3
        rows.append({
            "n_nationkey": k,
            "n_vals": cnt,
            "vals": [k + 1, 2 * k, r["n_regionkey"]][:cnt],
        })
    payload = encode_rows(rows, fields, ODO_RL)
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out


def occurs_file_for(sf_dir: str) -> str:
    """Fixed-width fixture with a COBOL OCCURS group: per nation row,
    key + 3 derived int elements (key+1, 2*key, regionkey) — derivable
    in plain SQL so the oracle can recompute every element."""
    occ_tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"nation-occurs-{occ_tag}.fixed")
    if os.path.exists(out):
        return out
    tbl = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    fields = parse_layout("n_nationkey:0:5:int,vals:5:5:int[3]", 20)
    rows = [
        {
            "n_nationkey": r["n_nationkey"],
            "vals": [
                r["n_nationkey"] + 1,
                2 * r["n_nationkey"],
                r["n_regionkey"],
            ],
        }
        for r in tbl.sort_by("n_nationkey").to_pylist()
    ]
    payload = encode_rows(rows, fields, 20)
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out


# AWS virtual-tape fixtures (sources/awstape.py): the documents table as
# a RECFM=U tape (each block one record, chunked small enough that most
# texts genuinely span chunks) and the nation fixed file re-blocked as
# an FB tape.
AWS_CHUNK = 512


def _aws_emit(out: bytearray, block: bytes, prev_len: int, chunk: int) -> int:
    """Append ``block`` as NEWREC..ENDREC chunks; returns the new
    prev_len (the backspace chain value the next header must carry)."""
    import struct

    view = memoryview(block)
    first = True
    while True:
        take = min(len(view), chunk)
        piece = bytes(view[:take])
        view = view[take:]
        last = len(view) == 0
        flags1 = (0x80 if first else 0) | (0x20 if last else 0)
        out.extend(struct.pack("<HHBB", len(piece), prev_len, flags1, 0))
        out.extend(piece)
        prev_len = len(piece)
        first = False
        if last:
            return prev_len


def _aws_close(out: bytearray, prev_len: int) -> None:
    """Tapemark + end-of-tape mark."""
    import struct

    out.extend(struct.pack("<HHBB", 0, prev_len, 0x40, 0))
    out.extend(struct.pack("<HHBB", 0, 0, 0x40, 0))


def aws_u_file_for(sf_dir: str, chunk: int = AWS_CHUNK) -> str:
    """RECFM=U AWS tape image of ``documents.parquet``: one tape block
    per document (prefix + utf-8 text), chunked at ``chunk`` data bytes.
    Same coalesce + total-order rules as the V fixture, so the offset
    oracle can replay the chunk-header arithmetic."""
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|awsu|{chunk}"
        f"|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out_path = os.path.join(fixture_dir(), f"documents-{tag}.aws")
    if os.path.exists(out_path):
        return out_path
    out = bytearray()
    prev_len = 0
    for r, prefix in _doc_prefixes(sf_dir, RDW_PREFIX_LAYOUT, RDW_PREFIX_LEN):
        block = prefix + r["text"].encode("utf-8")
        prev_len = _aws_emit(out, block, prev_len, chunk)
    _aws_close(out, prev_len)
    tmp = out_path + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(bytes(out))
    os.replace(tmp, out_path)
    return out_path


def aws_fb_file_for(sf_dir: str, recs_per_block: int = 5) -> str:
    """RECFM=FB AWS tape image: the nation fixed-width serialization
    re-blocked ``recs_per_block`` records per tape block (last block
    short).  Single-chunk blocks (0xA0) — block bytes < the 4 KiB chunk
    default."""
    src = fixed_file_for(sf_dir, "nation")
    rl = LAYOUTS["nation"][0]
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|awsfb|{recs_per_block}"
        f"|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out_path = os.path.join(fixture_dir(), f"nation-{tag}.aws")
    if os.path.exists(out_path):
        return out_path
    with open(src, "rb") as f:
        data = f.read()
    bs = rl * recs_per_block
    out = bytearray()
    prev_len = 0
    for i in range(0, len(data), bs):
        prev_len = _aws_emit(out, data[i : i + bs], prev_len, 4096)
    _aws_close(out, prev_len)
    tmp = out_path + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(bytes(out))
    os.replace(tmp, out_path)
    return out_path


def gdg_dir_for(sf_dir: str) -> str:
    """GDG fixture (sources/gdg.py): a catalog directory with four
    customer generations —

      CUST.G0001V00.fixed : c_custkey % 3 == 0
      CUST.G0002V00.fixed : c_custkey % 3 == 1 AND even custkey (the
                            superseded version — must never resolve)
      CUST.G0002V01.fixed : c_custkey % 3 == 1  (generation 2 proper)
      CUST.G0003V00.fixed : c_custkey % 3 == 2  (current)

    Membership is pure custkey arithmetic so oracles recompute each
    generation's content; the stale V00 member differs from V01, so a
    wrong version pick changes row counts and fails the hash."""
    record_length, spec, _ = LAYOUTS["customer"]
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|gdg|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    d = os.path.join(fixture_dir(), f"gdg-{tag}")
    done = os.path.join(d, "_ok")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    tbl = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    fields = parse_layout(spec, record_length)
    rows = tbl.sort_by("c_custkey").to_pylist()
    _fill_nulls(rows, fields)
    members = {
        "CUST.G0001V00.fixed": [r for r in rows if r["c_custkey"] % 3 == 0],
        "CUST.G0002V00.fixed": [
            r for r in rows
            if r["c_custkey"] % 3 == 1 and r["c_custkey"] % 2 == 0
        ],
        "CUST.G0002V01.fixed": [r for r in rows if r["c_custkey"] % 3 == 1],
        "CUST.G0003V00.fixed": [r for r in rows if r["c_custkey"] % 3 == 2],
    }
    for name, mrows in members.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(encode_rows(mrows, fields, record_length))
    open(done, "w").close()
    return d


def d_file_for(sf_dir: str) -> str:
    """ANSI RECFM=D serialization of ``documents.parquet``: each record
    prefixed by a 4-digit decimal ASCII count field (total incl. the
    field).  Oversized texts are clipped to fit the 9999-byte ANSI
    ceiling (clip mirrored by the oracle); same coalesce + total-order
    rules as the V fixture."""
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|ansid|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"documents-{tag}.ansid")
    if os.path.exists(out):
        return out
    cap = 9999 - 4 - RDW_PREFIX_LEN
    payload = bytearray()
    for r, prefix in _doc_prefixes(sf_dir, RDW_PREFIX_LAYOUT, RDW_PREFIX_LEN):
        tail = r["text"].encode("utf-8")[:cap]
        total = 4 + RDW_PREFIX_LEN + len(tail)
        payload += f"{total:04d}".encode("ascii") + prefix + tail
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out


DB_BLOCK_SIZE = 2048  # ANSI DB fixture block cap (incl. 4-digit prefix)
# max tail bytes: block prefix (4) + count field (4) + fixed prefix
DB_TAIL_CAP = DB_BLOCK_SIZE - 8 - RDW_PREFIX_LEN


def db_file_for(sf_dir: str, block_size: int = DB_BLOCK_SIZE) -> str:
    """ANSI RECFM=DB (blocked D) serialization of ``documents.parquet``:
    D records (4-digit decimal count fields) greedily packed into
    blocks of <= ``block_size`` bytes, each opened by a 4-digit decimal
    block prefix (the ISO/ANSI BUFOFF=L buffer-offset form).  Tails are
    byte-clipped so every record fits one block (clip mirrored by the
    oracle); same coalesce + total-order rules as the V fixture."""
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|ansidb|{block_size}"
        f"|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"documents-{tag}.ansidb")
    if os.path.exists(out):
        return out
    cap = block_size - 8 - RDW_PREFIX_LEN
    payload = bytearray()
    block = bytearray()

    def flush():
        if block:
            payload.extend(f"{4 + len(block):04d}".encode("ascii"))
            payload.extend(block)
            block.clear()

    for r, prefix in _doc_prefixes(sf_dir, RDW_PREFIX_LAYOUT, RDW_PREFIX_LEN):
        tail = r["text"].encode("utf-8")[:cap]
        total = 4 + RDW_PREFIX_LEN + len(tail)
        rec = f"{total:04d}".encode("ascii") + prefix + tail
        if block and 4 + len(block) + len(rec) > block_size:
            flush()
        block.extend(rec)
    flush()
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out


def sorted_fixed_file_for(sf_dir: str, table: str = "customer") -> str:
    """Fixed-width serialization SORTED BY THE ENCODED key (NULLs
    coalesce to 0 BEFORE the sort, unlike fixed_file_for where Arrow
    sorts nulls last and the later 0-encoding would break the order on
    a nulls roll) — the fixture for the ``sortedBy`` bisection scan,
    whose correctness contract is that the bytes really ascend."""
    record_length, spec, order_col = LAYOUTS[table]
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{table}|sorted|{spec}"
        f"|{source_stamp(sf_dir)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(fixture_dir(), f"{table}-{tag}.sorted.fixed")
    if os.path.exists(out):
        return out
    tbl = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    fields = parse_layout(spec, record_length)
    rows = tbl.to_pylist()
    _fill_nulls(rows, fields)
    rows.sort(key=lambda r: r[order_col])
    payload = encode_rows(rows, fields, record_length)
    tmp = out + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, out)
    return out
