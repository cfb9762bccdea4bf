"""PDF text/layout extraction (pure-Python decoder) and .docx text extraction."""

import zlib

from content_extractor_spark.kernel import pdftext


class TestPdfKernel:
    def test_roundtrip_compressed(self):
        pdf = pdftext.build_simple_pdf(
            ["Hello PDF world.", "Second line with (parens) and \\ backslash.", "Dritte Zeile äöü."]
        )
        text = pdftext.extract_text(pdf)
        assert "Hello PDF world." in text
        assert "Second line with (parens) and \\ backslash." in text
        assert "Dritte Zeile äöü." in text
        # line structure preserved via Td moves
        assert text.index("Hello") < text.index("Second") < text.index("Dritte")
        assert "\n" in text

    def test_roundtrip_uncompressed(self):
        pdf = pdftext.build_simple_pdf(["plain stream text"], compress=False)
        assert pdftext.extract_text(pdf) == "plain stream text"

    def test_layout_spans(self):
        pdf = pdftext.build_simple_pdf(["line one", "line two"])
        spans = pdftext.extract_text_spans(pdf)
        texts = [s["text"] for s in spans if s["text"].strip()]
        assert "line one" in texts and "line two" in texts
        one = next(s for s in spans if s["text"] == "line one")
        two = next(s for s in spans if s["text"] == "line two")
        assert one["y"] > two["y"]  # second line moved down (dy = -14)
        assert one["font_size"] == 12.0

    def test_tj_array_and_hex(self):
        content = b"BT /F1 10 Tf 10 700 Td [(Wor) -300 (ld)] TJ <48454C4C4F> Tj ET"
        stream = zlib.compress(content)
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
            + str(len(stream)).encode()
            + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n%%EOF"
        )
        text = pdftext.extract_text(pdf)
        assert "Wor ld" in text  # big negative kern becomes a word gap
        assert "HELLO" in text  # hex string

    def _wrap(self, content: bytes, compress: bool = False) -> bytes:
        """Hand-assembled single-stream PDF, independent of
        build_simple_pdf's object layout (no xref, CRLF EOLs)."""
        flt = b""
        if compress:
            content = zlib.compress(content)
            flt = b"/Filter /FlateDecode "
        return (
            b"%PDF-1.7\r\n9 0 obj\r\n<< " + flt + b"/Length "
            + str(len(content)).encode() + b" >>\r\nstream\r\n"
            + content + b"\r\nendstream\r\nendobj\r\n%%EOF"
        )

    def test_foreign_structure_crlf_and_compression(self):
        content = b"BT /F1 10 Tf 10 700 Td (alpha) Tj 0 -12 Td (beta) Tj ET"
        for compress in (False, True):
            text = pdftext.extract_text(self._wrap(content, compress))
            assert text == "alpha\nbeta"

    def test_quote_operators_show_next_line(self):
        content = b"BT (first) Tj (second) ' (third) \" ET"
        # jsoup-of-PDFs: ' and \" show on the NEXT line
        assert pdftext.extract_text(self._wrap(content)) == "first\nsecond\nthird"

    def test_tm_y_move_breaks_line_and_small_kern_keeps_word(self):
        content = (b"BT 1 0 0 1 72 700 Tm (top) Tj "
                   b"1 0 0 1 72 600 Tm (bottom) Tj ET")
        assert pdftext.extract_text(self._wrap(content)) == "top\nbottom"
        kern = b"BT [(Hel) -40 (lo) -500 (world)] TJ ET"
        # -40 is glyph kerning (joined), -500 is a word gap
        assert pdftext.extract_text(self._wrap(kern)) == "Hello world"

    def test_octal_and_hex_escapes(self):
        content = rb"BT (\101\102\103 and \() Tj <20442045> Tj ET"
        assert pdftext.extract_text(self._wrap(content)) == "ABC and ( D E"

    def test_image_stream_interleaved_is_skipped(self):
        img = (b"5 0 obj\r\n<< /Subtype /Image /Filter /DCTDecode /Length 6 >>"
               b"\r\nstream\r\n\xff\xd8\xff\xe0\x00\x01\r\nendstream\r\nendobj\r\n")
        txt = self._wrap(b"BT (visible) Tj ET")
        pdf = txt[:-5] + img + b"%%EOF"  # splice before the EOF marker
        assert pdftext.extract_text(pdf) == "visible"

    def test_text_outside_bt_et_ignored(self):
        content = b"(not text op context) Tj BT (inside) Tj ET"
        assert pdftext.extract_text(self._wrap(content)) == "inside"

    def test_garbage_not_pdf(self):
        assert pdftext.extract_text(b"not a pdf at all") == ""

    def test_unsupported_filter_skipped(self):
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Filter /LZWDecode /Length 4 >>\n"
            b"stream\n\x00\x01\x02\x03\nendstream\nendobj\n%%EOF"
        )
        assert pdftext.extract_text(pdf) == ""  # skipped, no crash


class TestDocx:
    """OOXML (.docx) extraction — same never-crash/round-trip policy
    as the PDF parser."""

    def test_roundtrip_with_title_entities_and_breaks(self):
        from content_extractor_spark.kernel.docx import (
            build_docx,
            extract_docx_text,
        )

        got = extract_docx_text(
            build_docx(
                ["Hello & <world>", "", "tab\there"],
                title="Title & Co",
            )
        )
        assert got["error"] is None
        assert got["title"] == "Title & Co"
        assert got["paragraphs"] == ["Hello & <world>", "", "tab\there"]
        assert got["text"] == "Hello & <world>\n\ntab\there"

    def test_tab_br_and_numeric_entities(self):
        """Hand-built document.xml: w:tab -> TAB, w:br -> newline
        within the paragraph, numeric char refs decoded."""
        import io
        import zipfile

        from content_extractor_spark.kernel.docx import extract_docx_text

        doc = (
            '<w:document xmlns:w="x"><w:body>'
            "<w:p><w:r><w:t>a</w:t><w:tab/><w:t>b</w:t><w:br/>"
            "<w:t>&#228;&#x41;</w:t></w:r></w:p>"
            "</w:body></w:document>"
        )
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("word/document.xml", doc)
        got = extract_docx_text(buf.getvalue())
        assert got["paragraphs"] == ["a\tb\näA"]

    def test_never_raises(self):
        import io
        import zipfile

        from content_extractor_spark.kernel.docx import extract_docx_text

        assert extract_docx_text(b"")["error"] == "not a zip archive"
        assert (
            extract_docx_text(b"PK\x03\x04trunc")["error"]
            == "not a zip archive"
        )
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("other.xml", "<x/>")
        assert (
            extract_docx_text(buf.getvalue())["error"]
            == "no word/document.xml"
        )

    def test_build_is_deterministic(self):
        from content_extractor_spark.kernel.docx import build_docx

        assert build_docx(["a", "b"], title="t") == build_docx(
            ["a", "b"], title="t"
        )
