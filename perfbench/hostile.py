"""Hostile-document probe: direct calls to ``extract_core.extract_document``
on payloads the generator never emits but real inputs carry (WET-sourced
rows have NULL ``html`` by design, see ``sources/warc.read_wet_pages``).
Reported, not hidden: a raise or a slow page is a count to move later.
"""

from __future__ import annotations

import time

from ocr_devnagari_spark.extract_core import extract_document

CASES = {
    "null_payload": None,
    "empty_payload": b"",
    "invalid_utf8": b"\xff\xfe\xc3\x28<p>" + b"\xa0\xa1 caf\xe9 text " * 10
                    + b"</p>",
    # deep unclosed nesting with too little text to pass validation, so the
    # page escalates to the precise (DOM tree) path
    "unclosed_div_40k": b"<div>" * 40_000 + b"x",
}


def probe(name: str) -> dict:
    """{"case", "s": wall seconds, "raised": exception repr or None}."""
    t0 = time.perf_counter()
    try:
        extract_document(f"https://hostile.example/{name}", CASES[name])
        raised = None
    except Exception as e:          # noqa: BLE001 - the probe reports it
        raised = repr(e)
    return {"case": name, "s": time.perf_counter() - t0, "raised": raised}
