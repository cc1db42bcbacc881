"""Fixture builders for the JPEG and OpenDocument decoder tests.

The package keeps the encoders its registry queries use (grayscale,
CMYK and grayscale-progressive JPEG; odt). These build the remaining
test inputs: 4:4:4, 4:2:0 and 3-component progressive JPEGs from
quantized coefficient blocks, and odp presentations. They reuse the
package's entropy-coding and container helpers rather than a second
copy of the Huffman tables and zip layout.
"""

from typing import List, Optional, Sequence

from cmc_knowledge_graph_text2ttl_spark.operators.jpeg import (
    _AC_LUM_COUNTS,
    _AC_LUM_SYMBOLS,
    _DC_LUM_COUNTS,
    _DC_LUM_SYMBOLS,
    _PROG_AC_COUNTS,
    _PROG_AC_SYMBOLS,
    _PROG_DC_COUNTS,
    _PROG_DC_SYMBOLS,
    _AcFirstState,
    _AcRefineState,
    _assemble_jpeg,
    _assemble_progressive,
    _BitWriter,
    _flush_ac_first_eobrun,
    _flush_ac_refine_eobrun,
    _huffman_codes,
    _sos_seg,
    _write_block,
    _write_block_ac_first,
    _write_block_ac_refine,
    _write_dc_first_val,
)
from cmc_knowledge_graph_text2ttl_spark.operators.odf import (
    _CONTENT_PREFIX,
    Block,
    _blocks_xml,
    _write_odf_zip,
)


def encode_jpeg_ycbcr444(
    width: int,
    height: int,
    y_blocks: List[List[int]],
    cb_blocks: List[List[int]],
    cr_blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """Deterministic 3-component 4:4:4 baseline JPEG from quantized
    coefficient blocks (one block per component per MCU, shared quant
    and Huffman tables, per-component DC predictors) — exercises the
    decoder's interleaved-MCU walk and YCbCr→RGB conversion."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    for name, blks in (("y", y_blocks), ("cb", cb_blocks), ("cr", cr_blocks)):
        if len(blks) != bw * bh:
            raise ValueError(f"{name}: need {bw * bh} blocks, got {len(blks)}")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_DC_LUM_COUNTS, _DC_LUM_SYMBOLS)
    ac_codes = _huffman_codes(_AC_LUM_COUNTS, _AC_LUM_SYMBOLS)
    bwr = _BitWriter()
    preds = [0, 0, 0]
    for i in range(bw * bh):
        for ci, blks in enumerate((y_blocks, cb_blocks, cr_blocks)):
            preds[ci] = _write_block(bwr, blks[i], preds[ci], dc_codes, ac_codes)
    scan = bwr.flush()
    return _assemble_jpeg(
        width, height, q,
        b"\x01\x11\x00\x02\x11\x00\x03\x11\x00",
        b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00", scan,
    )


def encode_jpeg_ycbcr420(
    width: int,
    height: int,
    y_blocks: List[List[int]],
    cb_blocks: List[List[int]],
    cr_blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """Deterministic 4:2:0 baseline JPEG: each MCU interleaves four Y
    blocks (2×2) with one Cb and one Cr block — exercises the decoder's
    chroma upsampling. ``y_blocks`` covers a (2·mcus_x)×(2·mcus_y)
    grid row-major; the chroma grids are mcus_x×mcus_y."""
    mcus_x = (width + 15) // 16
    mcus_y = (height + 15) // 16
    if len(y_blocks) != 4 * mcus_x * mcus_y:
        raise ValueError(
            f"y: need {4 * mcus_x * mcus_y} blocks, got {len(y_blocks)}"
        )
    for name, blks in (("cb", cb_blocks), ("cr", cr_blocks)):
        if len(blks) != mcus_x * mcus_y:
            raise ValueError(
                f"{name}: need {mcus_x * mcus_y} blocks, got {len(blks)}"
            )
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_DC_LUM_COUNTS, _DC_LUM_SYMBOLS)
    ac_codes = _huffman_codes(_AC_LUM_COUNTS, _AC_LUM_SYMBOLS)
    bwr = _BitWriter()
    preds = [0, 0, 0]
    yw = 2 * mcus_x  # Y block-grid width
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(2):
                for bx in range(2):
                    idx = (my * 2 + by) * yw + mx * 2 + bx
                    preds[0] = _write_block(
                        bwr, y_blocks[idx], preds[0], dc_codes, ac_codes
                    )
            ci = my * mcus_x + mx
            preds[1] = _write_block(bwr, cb_blocks[ci], preds[1], dc_codes, ac_codes)
            preds[2] = _write_block(bwr, cr_blocks[ci], preds[2], dc_codes, ac_codes)
    scan = bwr.flush()
    return _assemble_jpeg(
        width, height, q,
        b"\x01\x22\x00\x02\x11\x00\x03\x11\x00",
        b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00", scan,
    )


def encode_jpeg_progressive_ycbcr444(
    width: int,
    height: int,
    y_blocks: List[List[int]],
    cb_blocks: List[List[int]],
    cr_blocks: List[List[int]],
    quant: Optional[List[int]] = None,
) -> bytes:
    """3-component 4:4:4 progressive fixture: INTERLEAVED DC scans
    (first + refine over MCUs, per-component predictors) followed by
    per-component AC first/refine scans — exercises every progressive
    scan shape the decoder supports."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    all_blocks = (y_blocks, cb_blocks, cr_blocks)
    for name, blks in zip("y cb cr".split(), all_blocks):
        if len(blks) != bw * bh:
            raise ValueError(f"{name}: need {bw * bh} blocks, got {len(blks)}")
    q = quant if quant is not None else [8] * 64
    dc_codes = _huffman_codes(_PROG_DC_COUNTS, _PROG_DC_SYMBOLS)
    ac_codes = _huffman_codes(_PROG_AC_COUNTS, _PROG_AC_SYMBOLS)
    scans = []
    comps = [(1, 0, 0), (2, 0, 0), (3, 0, 0)]
    # interleaved DC first (Al=1): component-interleaved per MCU
    bwr = _BitWriter()
    preds = [0, 0, 0]
    for i in range(bw * bh):
        for ci, blks in enumerate(all_blocks):
            preds[ci] = _write_dc_first_val(
                bwr, blks[i][0] >> 1, preds[ci], dc_codes
            )
    scans.append((_sos_seg(comps, 0, 0, 0, 1), bwr.flush()))
    # interleaved DC refine
    bwr = _BitWriter()
    for i in range(bw * bh):
        for blks in all_blocks:
            bwr.write(blks[i][0] & 1, 1)
    scans.append((_sos_seg(comps, 0, 0, 1, 0), bwr.flush()))
    # per-component AC first then refine (non-interleaved, as required)
    for ci, blks in enumerate(all_blocks):
        bwr = _BitWriter()
        st1 = _AcFirstState()
        for blk in blks:
            _write_block_ac_first(bwr, blk, 1, 63, 1, ac_codes, st1)
        _flush_ac_first_eobrun(bwr, ac_codes, st1)
        scans.append((_sos_seg([(ci + 1, 0, 0)], 1, 63, 0, 1), bwr.flush()))
    for ci, blks in enumerate(all_blocks):
        bwr = _BitWriter()
        st2 = _AcRefineState()
        for blk in blks:
            _write_block_ac_refine(bwr, blk, 1, 63, 0, ac_codes, st2)
        _flush_ac_refine_eobrun(bwr, ac_codes, st2)
        scans.append((_sos_seg([(ci + 1, 0, 0)], 1, 63, 1, 0), bwr.flush()))
    return _assemble_progressive(
        width, height, q, b"\x01\x11\x00\x02\x11\x00\x03\x11\x00", scans
    )


def make_odp(pages: Sequence[Sequence[Block]]) -> bytes:
    """odp bytes; each page is a sequence of blocks as in make_odt."""
    xml = (
        _CONTENT_PREFIX
        + "<office:presentation>"
        + "".join(
            f'<draw:page draw:name="page{i + 1}">' + _blocks_xml(pg) + "</draw:page>"
            for i, pg in enumerate(pages)
        )
        + "</office:presentation></office:body></office:document-content>"
    )
    return _write_odf_zip("application/vnd.oasis.opendocument.presentation", xml)
