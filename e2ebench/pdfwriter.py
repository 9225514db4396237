"""A minimal report-PDF writer, written apart from the program's own.

The program ships ``sources.pdf_decode.make_report_pdf``; checking the
decoder against bytes from that writer would only show that the two
agree with each other. This writer lays pages out differently: every
text line is placed with a ``Td`` move (never ``T*`` or ``Tm``), some
lines are shown through ``TJ`` arrays with kerning numbers, the page
tree has an intermediate ``/Pages`` node, the font object comes last,
and the content streams are Flate-compressed with a different level.

One block is one ``BT … ET`` text object, lines top to bottom.
"""

from __future__ import annotations

import zlib


def _lit(s: str) -> bytes:
    out = s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    return b"(" + out.encode("latin-1") + b")"


def _show(line: str, kerned: bool) -> bytes:
    if not kerned or len(line) < 4:
        return _lit(line) + b" Tj"
    cut = len(line) // 2
    return b"[" + _lit(line[:cut]) + b" -12 " + _lit(line[cut:]) + b"] TJ"


def _content(blocks: list[list[str]]) -> bytes:
    out = bytearray()
    y = 760
    for bi, lines in enumerate(blocks):
        out += b"BT\n/F9 8 Tf\n40 %d Td\n" % y
        for li, line in enumerate(lines):
            if li:
                out += b"0 -10 Td\n"
            out += _show(line, kerned=(bi + li) % 3 == 1) + b"\n"
        out += b"ET\n"
        y -= 10 * len(lines) + 6
    return bytes(out)


def write_pdf(pages: list[list[list[str]]]) -> bytes:
    """``pages`` → PDF bytes. Each page is a list of blocks, each block
    a list of text lines. The same input always gives the same bytes."""
    n = len(pages)
    # objects: 1 catalog, 2 root pages, 3 inner pages, then per page
    # (page, content), then the font
    page_nums = [4 + 2 * i for i in range(n)]
    font_num = 4 + 2 * n
    bodies: dict[int, bytes] = {}
    bodies[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    bodies[2] = b"<< /Type /Pages /Kids [3 0 R] /Count %d >>" % n
    kids = b" ".join(b"%d 0 R" % p for p in page_nums)
    bodies[3] = b"<< /Type /Pages /Parent 2 0 R /Kids [%s] /Count %d >>" % (kids, n)
    for pnum, blocks in zip(page_nums, pages):
        data = zlib.compress(_content(blocks), 6)
        bodies[pnum] = (
            b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F9 %d 0 R >> >> /Contents %d 0 R >>"
            % (font_num, pnum + 1)
        )
        bodies[pnum + 1] = (
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(data)
            + data
            + b"\nendstream"
        )
    bodies[font_num] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    out = bytearray(b"%PDF-1.5\n%\xb5\xed\xae\xfb\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"
    xref = len(out)
    size = max(bodies) + 1
    out += b"xref\n0 %d\n0000000000 65535 f\r\n" % size
    for num in range(1, size):
        out += b"%010d 00000 n\r\n" % offsets[num]
    out += b"trailer\n<< /Root 1 0 R /Size %d >>\nstartxref\n%d\n%%%%EOF\n" % (size, xref)
    return bytes(out)
