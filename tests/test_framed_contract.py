"""The framed-record contract (sources/framed.py) holds alike for both
framed sources: the same payloads read through varlen (V, VB, VBS) and
awstape (U) give the same rows in raw, prefix + tail, no-tail,
``tailColumn`` and cp037 modes, through the batch reader and the tail
stream reader, and the prefix option errors read the same apart from the
source name.  Also: every boolean option of the three sources takes only
'true'/'false' (any case).

Pure reader path (no SparkSession)."""

from __future__ import annotations

import re

import pytest
from test_awstape import _tape

from hadoop_fixedlengthinputformat_spark.sources import fixedlen
from hadoop_fixedlengthinputformat_spark.sources.awstape import (
    AwsTapeDataSource,
    AwsTapeStreamReader,
    _TOptions,
)
from hadoop_fixedlengthinputformat_spark.sources.layout import encode_rows, parse_layout
from hadoop_fixedlengthinputformat_spark.sources.varlen import (
    VarLenDataSource,
    VarLenStreamReader,
    _VOptions,
)

PFX = "k:0:4:int,tag:4:4:string"
PL = 8
RECFMS = ("V", "VB", "VBS")
MODES = {
    "raw": {},
    "prefix_tail": {"layout": PFX, "prefixlength": str(PL)},
    "no_tail": {"layout": PFX, "prefixlength": str(PL), "includetail": "false"},
    "tail_column": {"layout": PFX, "prefixlength": str(PL), "tailcolumn": "rest"},
    "cp037": {"layout": PFX, "prefixlength": str(PL), "encoding": "cp037"},
}
COPYBOOK = """
       01  PFX.
           05  K    PIC 9(4).
           05  TAG  PIC X(4).
"""


def _payloads(encoding: str = "utf-8", short: bool = False) -> list[bytes]:
    fields = parse_layout(PFX, PL)
    out = [
        encode_rows([{"k": i, "tag": f"t{i % 3}"}], fields, PL, encoding=encoding)
        + bytes([i]) * ((i * 37) % 300)
        for i in range(40)
    ]
    if short:
        out.insert(3, b"abc")
    return out


def _write_varlen(path: str, recfm: str, payloads: list[bytes]) -> None:
    # 512-byte blocks: VB blocks hold a few records, VBS records span blocks
    opts = _VOptions.parse({"recfm": recfm, "blocksize": "512"})
    with open(path, "wb") as f:
        opts.framing.pack(
            f, iter(payloads), block_size=opts.block_size,
            segment_size=opts.segment_size, index_every=0,
        )


def _files(tmp_path, payloads) -> dict[str, tuple[type, str, dict]]:
    """source label -> (DataSource class, path, extra options)."""
    out = {}
    for recfm in RECFMS:
        p = str(tmp_path / f"d.{recfm.lower()}")
        _write_varlen(p, recfm, payloads)
        out[recfm] = (VarLenDataSource, p, {"recfm": recfm})
    p = tmp_path / "d.aws"
    p.write_bytes(_tape(payloads, cap=100))  # blocks span chunks
    out["U"] = (AwsTapeDataSource, str(p), {})
    return out


def _read(source, path: str, opts: dict):
    ds = source({"path": path, "includeoffset": "false", **opts})
    rd = ds.reader(ds.schema())
    rows = [
        tuple(r.values())
        for part in rd.partitions() for b in rd.read(part) for r in b.to_pylist()
    ]
    return ds.schema(), rows


@pytest.mark.parametrize("mode", sorted(MODES))
def test_same_payloads_read_alike(tmp_path, mode):
    opts = MODES[mode]
    payloads = _payloads(opts.get("encoding", "utf-8"))
    got = {
        label: _read(source, path, {**extra, **opts})
        for label, (source, path, extra) in _files(tmp_path, payloads).items()
    }
    schema, rows = got["U"]
    assert len(rows) == len(payloads)
    if mode != "raw":
        assert [r[0] for r in rows] == list(range(40))
    for label in RECFMS:
        assert got[label] == (schema, rows), label


def test_tail_readers_read_alike(tmp_path):
    payloads = _payloads()
    files = _files(tmp_path, payloads)
    opts = {**MODES["prefix_tail"], "includeoffset": "false"}
    vo = _VOptions.parse({**opts, "recfm": "vbs"})
    v_rows, v_end = VarLenStreamReader(vo, files["VBS"][1]).read(vo.INITIAL_OFFSET)
    to = _TOptions.parse(opts)
    t_rows, t_end = AwsTapeStreamReader(to, files["U"][1]).read(to.INITIAL_OFFSET)
    assert list(v_rows) == list(t_rows)
    assert len(list(VarLenStreamReader(vo, files["VBS"][1]).readBetweenOffsets(
        vo.INITIAL_OFFSET, v_end
    ))) == len(payloads)
    assert set(v_end) == {"pos"} and set(t_end) == {"pos", "prev", "tf", "mark"}


def _error(fn) -> str:
    with pytest.raises(Exception) as e:
        fn()
    return str(e.value)


def _same_apart_from_source(texts: dict[str, str]) -> set[str]:
    """The texts with the source name, the file path and byte offsets
    taken out."""
    return {
        re.sub(r"offset \d+", "offset N", re.sub(r"'[^']*/d\.\w+'", "PATH", t))
        .replace("varlen: ", "").replace("awstape: ", "")
        for t in texts.values()
    }


def test_short_record_errors_read_alike(tmp_path):
    """A record shorter than the prefix raises the shared text for an
    unspanned or assembled spanned varlen record and for a tape block."""
    files = _files(tmp_path, _payloads(short=True))
    texts = {
        label: _error(lambda: _read(source, path, {**extra, **MODES["prefix_tail"]}))
        for label, (source, path, extra) in files.items()
    }
    assert len(_same_apart_from_source({k: texts[k] for k in ("VBS", "U")})) == 1
    assert "shorter than the declared prefix (8)" in texts["U"]
    for label in ("V", "VB"):
        assert "shorter than the declared prefix (8)" in texts[label]


@pytest.mark.parametrize("parse, opts", [
    (_TOptions.parse, {"recfm": "f", "recordlength": "4", "layout": "record_tail:0:4:int"}),
    (_VOptions.parse, {"layout": "k:0:4:int", "prefixlength": "4", "tailcolumn": "k",
                       "includetail": "false"}),
], ids=["awstape_recfm_f", "varlen_no_tail"])
def test_tail_column_clash_only_when_the_tail_is_emitted(parse, opts):
    """recfm=F rows and includeTail=false carry no tail column, so its
    name cannot clash with a layout field."""
    names = parse(opts).spark_schema().fieldNames()
    assert len(names) == len(set(names))


@pytest.mark.parametrize("opts", [
    {"layout": PFX},
    {"prefixlength": "8"},
    {"layout": PFX, "prefixlength": "0"},
    {"layout": PFX, "prefixlength": "-3"},
    {"layout": PFX, "prefixlength": "x"},
    {"layout": "k:0:9:int", "prefixlength": "8"},
    {"layout": PFX, "prefixlength": "8", "tailcolumn": "tag"},
    {"layout": PFX, "copybook": COPYBOOK},
    {"layout": PFX, "prefixlength": "8", "encoding": "utf-16"},
])
def test_prefix_option_errors_read_alike(opts):
    texts = {
        recfm: _error(lambda: _VOptions.parse({**opts, "recfm": recfm}))
        for recfm in RECFMS
    }
    texts["U"] = _error(lambda: _TOptions.parse(opts))
    assert len(_same_apart_from_source(texts)) == 1, texts
    assert texts["U"].startswith("awstape: ") == texts["V"].startswith("varlen: ")


def test_awstape_takes_copybook_in_u_mode_only(tmp_path):
    files = _files(tmp_path, _payloads())
    by_copybook = {
        label: _read(source, path, {**extra, "copybook": COPYBOOK})
        for label, (source, path, extra) in files.items()
    }
    assert by_copybook["U"] == by_copybook["V"]
    assert [r[0] for r in by_copybook["U"][1]] == list(range(40))
    assert _TOptions.parse({"copybook": COPYBOOK}).prefix_length == PL
    with pytest.raises(ValueError, match="'copybook' applies to recfm=U only"):
        _TOptions.parse({"recfm": "fb", "recordlength": "8", "copybook": COPYBOOK})


FIXEDLEN = (fixedlen._Options.parse, {"recordlength": "8"}, "fixedlen")
VARLEN = (_VOptions.parse, {}, "varlen")
AWSTAPE = (_TOptions.parse, {}, "awstape")
FLAGS = [
    (*FIXEDLEN, "includeOffset", "with_offset"),
    (*FIXEDLEN, "statsSidecar", "stats_sidecar"),
    (*FIXEDLEN, "partitionedStream", "partitioned_stream"),
    (*VARLEN, "includeOffset", "with_offset"),
    (*VARLEN, "includeTail", "with_tail"),
    (*AWSTAPE, "includeOffset", "with_offset"),
    (*AWSTAPE, "includeTail", "with_tail"),
    (*AWSTAPE, "includeFile", "with_file"),
]


@pytest.mark.parametrize("parse, base, source, option, attr", FLAGS)
def test_boolean_options_take_true_false_only(parse, base, source, option, attr):
    for raw, want in (("true", True), ("TRUE", True), ("False", False), ("false", False)):
        assert getattr(parse({**base, option.lower(): raw}), attr) is want
    for raw in ("yes", "1", "0", "on", ""):
        match = f"^{source}: option '{option}' must be 'true' or 'false'"
        with pytest.raises(ValueError, match=match):
            parse({**base, option.lower(): raw})
