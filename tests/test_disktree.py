"""DiskTree binary-format codec: byte goldens, roundtrip, get parity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hexspark import build as bx
from hexspark import cells_np as cnp
from hexspark import constants as K
from hexspark import join as jx
from hexspark.disktree import (
    DPTR_SZ, HDR_MAGIC, NUM_BASE, de_i64, disktree_get, iter_disktree,
    read_disktree, ser_i64, ser_unit, varint_read, varint_write,
    write_disktree,
)
from hexspark.fixtures import ensure_fixtures


@pytest.fixture(scope="module")
def monaco(spark):
    return spark.read.parquet(ensure_fixtures()["monaco_res12"]).cache()


def test_varint_roundtrip():
    for v in [0, 1, 0x3F, 0x40, 0x1FFF, 0x2000, 0xF_FFFF, 0x10_0000,
              0x7FF_FFFF]:
        b = varint_write(v)
        got, n = varint_read(b, 0)
        assert (got, n) == (v, len(b)), v
        assert not b[0] & 0x80  # never collides with the parent tag
    with pytest.raises(ValueError):
        varint_write(0x800_0000)


def test_single_leaf_byte_golden(tmp_path):
    """Hand-derived bytes from the published format
    (writer.rs:46-64 + varint.rs:13-18 + dptr.rs:14-41): a res-0 leaf
    at base 0 with i64 value 7."""
    res0_base0 = int(
        cnp.make_cell(
            np.array([0]), np.array([0]), np.array([K.trailing_mask(0)])
        )[0]
    )
    p = str(tmp_path / "one.disktree")
    write_disktree([(res0_base0, 7)], p, value_ser=ser_i64)
    buf = open(p, "rb").read()
    hdr = len(HDR_MAGIC) + 1
    node_pos = hdr + DPTR_SZ * NUM_BASE  # 9 + 610 = 619
    expect = bytearray()
    expect += HDR_MAGIC
    expect.append(0xFE)  # version 0 stored as 0xFE - 0
    expect += node_pos.to_bytes(5, "little")  # base 0 dptr
    expect += b"\x00" * (5 * (NUM_BASE - 1))  # other bases absent
    expect.append(8 | 0x40)  # varint(8): 1-byte form 01xx_xxxx
    expect += (7).to_bytes(8, "little", signed=True)
    assert buf == bytes(expect)
    # and it reads back
    assert list(iter_disktree(p)) == [(res0_base0, 7)]


def test_parent_tag_layout(tmp_path):
    """Tag byte: bit d = child digit d present, bit 7 sentinel
    (writer.rs:94-121)."""
    parent = int(cnp.make_cell(np.array([3]), np.array([2]),
                               np.array([K.trailing_mask(2)]))[0])

    def children_of(p):
        p = np.int64(p)
        r = int(cnp.res(np.array([p]))[0]) + 1
        shift = (K.MAX_RES - r) * K.DIGIT_BITS
        bumped = (p & ~np.int64(K.RES_MASK)) | np.int64(r << K.RES_OFFSET)
        return [int(bumped - ((7 - d) << shift)) for d in range(7)]

    kids = children_of(parent)
    picked = [kids[1], kids[4]]  # digits 1 and 4 at level 3... of res-3
    p = str(tmp_path / "two.disktree")
    write_disktree([(c, i) for i, c in enumerate(picked)], p)
    buf = open(p, "rb").read()
    hdr = len(HDR_MAGIC) + 1
    # descend: base 3 → res-1 node → res-2 node → res-3 leaves
    pos = int.from_bytes(buf[hdr + 5 * 3 : hdr + 5 * 3 + 5], "little")
    # walk down two parent levels (digit path of `parent` at res 2)
    for lvl in (1, 2):
        tag = buf[pos]
        assert tag & 0x80
        d = (parent >> ((15 - lvl) * 3)) & 0x7
        assert (tag >> d) & 1
        skip = bin(tag & ((1 << d) - 1)).count("1")
        pos = int.from_bytes(
            buf[pos + 1 + 5 * skip : pos + 1 + 5 * skip + 5], "little"
        )
    tag = buf[pos]
    assert tag == 0b1000_0000 | (1 << 1) | (1 << 4)  # children 1 and 4


def test_monaco_roundtrip_and_get_parity(spark, monaco, tmp_path):
    vals = monaco.withColumn("value", (F.col("cell") % 1000).cast("long"))
    built = bx.build_region(vals, value_col="value", compactor="none").cache()
    pairs = [(r["cell"], r["value"]) for r in built.collect()]
    p = str(tmp_path / "monaco.disktree")
    write_disktree(pairs, p, value_ser=ser_i64)
    back = list(iter_disktree(p, de_i64))
    assert sorted(back) == sorted(pairs)
    # DFS file order == ascending lo (reference iteration parity)
    cells_in_order = np.array([c for c, _ in back], dtype=np.int64)
    assert (np.diff(cnp.lo(cells_in_order)) > 0).all()
    # random-access get == DataFrame join lookup, incl. promoted hits
    buf = open(p, "rb").read()
    want_map = dict(pairs)
    # FIXTURES.md golden probes: monaco_point_1 hits via res-9 parent,
    # monaco_point_2 misses
    hit = disktree_get(buf, 0x8C3969A41DA15FF)
    assert hit is not None and int(
        cnp.res(np.array([hit[0]], dtype=np.int64))[0]
    ) == 9
    assert disktree_get(buf, 0x8C3969A415065FF) is None
    probes = [r["cell"] for r in monaco.limit(50).collect()]
    df_got = {
        r["probe"]: (r["stored_cell"], r["value"])
        for r in jx.get_chained(
            spark.createDataFrame([(c,) for c in probes], "probe: long"),
            built, probe_col="probe",
        ).collect()
    }
    for c in probes:
        got = disktree_get(buf, c)
        assert got == df_got.get(c, None) or (got is None and c not in df_got)
    # DataFrame source form
    df = read_disktree(spark, p)
    assert df.count() == len(pairs)


def test_random_cells_and_value_lengths_roundtrip(spark, tmp_path):
    """Reference writer is tested with 0..=0xFFFF-byte opaque values
    (/root/reference/src/disktree/mod.rs:93-184) — mirror that: random
    mixed-res cells, random-length byte values spanning all varint
    widths, byte-exact roundtrip + random-access get on every cell."""
    rng = np.random.default_rng(17)
    cells = set()
    for _ in range(300):
        base = int(rng.integers(0, 122))
        res = int(rng.integers(0, 16))
        digs = rng.integers(0, 7, res)
        digits = K.trailing_mask(res)
        for i, d in enumerate(digs, start=1):
            digits += int(d) << ((K.MAX_RES - i) * K.DIGIT_BITS)
        cells.add(int(cnp.make_cell(
            np.array([base]), np.array([res]), np.array([digits])
        )[0]))
    arr = np.array(sorted(cells), dtype=np.int64)
    # keep only pairwise non-related (ancestor-wins, like a built table)
    lo, hi = cnp.lo(arr), cnp.hi(arr)
    keep = []
    last_hi = -1
    for idx in np.lexsort((cnp.res(arr), lo)):
        if lo[idx] > last_hi:
            keep.append(idx)
            last_hi = hi[idx]
    arr = arr[keep]
    lens = [0, 1, 0x3F, 0x40, 0x1FFF, 0x2000, 0xFFFF] + [
        int(rng.integers(0, 0x10000)) for _ in range(len(arr) - 7)
    ]
    pairs = [
        (int(c), rng.integers(0, 256, n).astype(np.uint8).tobytes())
        for c, n in zip(arr, lens)
    ]
    p = str(tmp_path / "rand.disktree")
    write_disktree(pairs, p, value_ser=lambda b: b)
    back = dict(iter_disktree(p, value_de=None))
    assert back == dict(pairs)
    # streamed reader: identical rows AND identical order on the same
    # random tree (all varint widths, zero-length values, deep cells)
    assert list(iter_disktree(p, value_de=None, stream=True)) == list(
        iter_disktree(p, value_de=None)
    )
    buf = open(p, "rb").read()
    for c, v in pairs:
        got = disktree_get(buf, c, value_de=None)
        assert got == (c, v)


def test_empty_tree_roundtrip(tmp_path):
    """Reference edge case (/root/reference/src/disktree/mod.rs:233-243):
    a disktree with zero entries writes, iterates empty, and misses on
    every lookup."""
    p = str(tmp_path / "empty.disktree")
    write_disktree([], p, value_ser=lambda b: b)
    assert list(iter_disktree(p, value_de=None)) == []
    buf = open(p, "rb").read()
    assert disktree_get(buf, 0x85283473FFFFFFF, value_de=None) is None


def test_set_roundtrip_zero_len_values(spark, monaco, tmp_path):
    built = bx.build_region(monaco, compactor="set")
    pairs = [(r["cell"], None) for r in built.collect()]
    p = str(tmp_path / "set.disktree")
    write_disktree(pairs, p, value_ser=ser_unit)
    back = list(iter_disktree(p, value_de=None))
    assert sorted(c for c, _ in back) == sorted(c for c, _ in pairs)
    assert all(v == b"" for _, v in back)


def test_streaming_reader_never_materializes(spark, tmp_path):
    """>RAM posture: streamed iteration and random-access get must read
    sub-linear bytes, match the whole-buffer codec exactly, and the
    distributed per-base-span reader must return the same table."""
    from hexspark.disktree import (
        DiskTreeFile, disktree_get, iter_disktree, read_disktree_distributed,
    )

    rng = np.random.default_rng(3)
    # cells across several bases, mixed res
    cells = []
    for base in (5, 20, 77, 110):
        for r in (3, 6, 9):
            digits = np.full(200, K.trailing_mask(r), dtype=np.int64)
            for i in range(r):
                digits += rng.integers(0, 7, size=200).astype(np.int64) << (
                    (K.MAX_RES - 1 - i) * K.DIGIT_BITS
                )
            head = (
                (K.MODE_CELL << K.MODE_OFFSET)
                | (base << K.BASE_OFFSET)
                | (r << K.RES_OFFSET)
            )
            cells.append(head | digits)
    cells = np.unique(np.concatenate(cells))
    # compact-valid input: drop covered cells so the tree builds cleanly
    lo, res, hi = cnp.lo(cells), cnp.res(cells), cnp.hi(cells)
    order = np.lexsort((res, lo))
    hs = hi[order]
    runmax = np.maximum.accumulate(np.concatenate([[np.int64(-1)], hs[:-1]]))
    cells = cells[order[runmax < hs]]
    pairs = [(int(c), int(i)) for i, c in enumerate(cells)]
    p = str(tmp_path / "multi.disktree")
    write_disktree(pairs, p, value_ser=ser_i64)
    import os
    fsize = os.path.getsize(p)

    whole = list(iter_disktree(p))
    streamed = list(iter_disktree(p, stream=True))
    assert streamed == whole and len(whole) == len(pairs)

    with DiskTreeFile(p) as t:
        # a single get must not read the whole file
        probe = int(cells[len(cells) // 2])
        assert t.get(probe) == disktree_get(open(p, "rb").read(), probe)
        assert t.buf.bytes_read < fsize / 4, (t.buf.bytes_read, fsize)

    dist = read_disktree_distributed(spark, p)
    got = sorted((r["cell"], r["value"]) for r in dist.collect())
    assert got == sorted(pairs)


def test_disktreefile_contains_descendants_parity(spark, monaco, tmp_path):
    """Seek-based contains/descendants against the numpy lo/hi oracle —
    the DiskTreeMap surface (tree.rs contains/descendants) directly on
    the file handle."""
    from hexspark.disktree import DiskTreeFile

    cells_list = sorted(r["cell"] for r in monaco.collect())
    rows = [(c, i) for i, c in enumerate(cells_list)]
    p = str(tmp_path / "mon.disktree")
    write_disktree(rows, p, value_ser=ser_i64)
    cells = np.array([c for c, _ in rows], dtype=np.int64)
    vals = {c: v for c, v in rows}
    lo, hi = cnp.lo(cells), cnp.hi(cells)

    def want_desc(probe):
        plo, phi = int(cnp.lo(np.array([probe]))[0]), int(cnp.hi(np.array([probe]))[0])
        inside = cells[(lo >= plo) & (hi <= phi)]
        if len(inside):
            return sorted((int(c), vals[int(c)]) for c in inside)
        covering = cells[(lo <= plo) & (hi >= phi)]
        return sorted((int(c), vals[int(c)]) for c in covering)

    with DiskTreeFile(p) as t:
        # stored cells contain themselves; their descendants = themselves
        for c in cells[:20]:
            assert t.contains(int(c))
            assert sorted(t.descendants(int(c))) == [(int(c), vals[int(c)])]
        # coarse probes: whole-subtree scans
        for probe in np.unique(cnp.to_parent(cells, 9))[:10]:
            assert sorted(t.descendants(int(probe))) == want_desc(int(probe))
        # deeper-than-stored probes: covering-leaf hit, contains true
        d13 = 0x7 << ((K.MAX_RES - 13) * K.DIGIT_BITS)
        deeper = int((cells[0] & ~(d13 | K.RES_MASK)) | (13 << K.RES_OFFSET))
        assert t.contains(deeper)
        assert sorted(t.descendants(deeper)) == want_desc(deeper)
        # absent subtree
        other_base = (cells[0] >> K.BASE_OFFSET) & 0x7F
        vacant = int(cells[0] ^ (1 << K.BASE_OFFSET))
        if not any((c >> K.BASE_OFFSET) & 0x7F == ((vacant >> K.BASE_OFFSET) & 0x7F) for c in cells.tolist()):
            assert not t.contains(vacant)
            assert list(t.descendants(vacant)) == []


def _raw_tree(nodes: bytes) -> bytes:
    """Hand-built file: header + base-0 pointer at the node area."""
    hdr = HDR_MAGIC + bytes([0xFE])  # version 0
    node_pos = len(hdr) + DPTR_SZ * NUM_BASE
    ptrs = node_pos.to_bytes(DPTR_SZ, "little") + b"\x00" * (DPTR_SZ * (NUM_BASE - 1))
    return hdr + ptrs + nodes


def test_corrupt_backward_dptr_raises(tmp_path):
    """Interchange hardening: a foreign file whose child dptr points AT
    or BEFORE its parent is a pointer cycle — the reader must raise,
    not recurse until the stack dies (children are always written after
    their parent, writer.rs:66-70, so backward is never well-formed)."""
    hdr = len(HDR_MAGIC) + 1
    p0 = hdr + DPTR_SZ * NUM_BASE      # parent 0
    p1 = p0 + 1 + DPTR_SZ              # parent 1
    nodes = (
        bytes([0x80 | 1]) + p1.to_bytes(DPTR_SZ, "little")   # parent0 → parent1
        + bytes([0x80 | 1]) + p0.to_bytes(DPTR_SZ, "little")  # parent1 → parent0 (loop!)
    )
    path = str(tmp_path / "loop.disktree")
    open(path, "wb").write(_raw_tree(nodes))
    with pytest.raises(ValueError, match="backward pointer|not past its parent"):
        list(iter_disktree(path))


def test_corrupt_overdeep_tree_raises(tmp_path):
    """A digit path can only be MAX_RES (15) deep; a forward-pointing
    chain of 16+ Parent nodes is corrupt and must raise (bounded
    descent, no unbounded recursion on adversarial files)."""
    hdr = len(HDR_MAGIC) + 1
    base_pos = hdr + DPTR_SZ * NUM_BASE
    n_parents = 17
    nodes = b""
    for i in range(n_parents):
        nxt = base_pos + (i + 1) * (1 + DPTR_SZ)
        nodes += bytes([0x80 | 1]) + nxt.to_bytes(DPTR_SZ, "little")
    nodes += bytes([8 | 0x40]) + (1).to_bytes(8, "little")  # terminal leaf
    path = str(tmp_path / "deep.disktree")
    open(path, "wb").write(_raw_tree(nodes))
    with pytest.raises(ValueError, match="digit depth"):
        list(iter_disktree(path))


def test_distributed_reader_value_type_guard(spark, tmp_path):
    """read_disktree_distributed decodes i64 only; declaring any other
    value_type would silently mistype the column — it must raise."""
    from hexspark.disktree import read_disktree_distributed

    res0 = int(cnp.make_cell(np.array([0]), np.array([0]),
                             np.array([K.trailing_mask(0)]))[0])
    path = str(tmp_path / "v.disktree")
    write_disktree([(res0, 7)], path, value_ser=ser_i64)
    with pytest.raises(ValueError, match="i64 values only"):
        read_disktree_distributed(spark, path, value_type="string")
    # the supported codec still round-trips
    assert read_disktree_distributed(spark, path).collect()[0]["value"] == 7
