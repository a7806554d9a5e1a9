"""In-process timing of the extraction kernel's phases on a page sample.

Runs on the driver, one core, outside Spark. For each page it finds the
bytes ``dispatch_blocks`` receives (after envelope stripping and the size
cap) and the format leg's tokenizer that dispatch ends in, by profiling one
``extract`` call. It then times, untraced and over the whole sample:

* ``extract``                the public kernel, end to end;
* ``dispatch_blocks``        gate chain plus leg tokenizer;
* the leg tokenizer alone    (gate time = dispatch minus this);
* ``layout.reading_order``   and ``select.select_blocks`` on its blocks;
* ``pipeline._extract_batches`` over 512-row Arrow batches with ``extract``
  answered from a table of precomputed results: the Arrow boundary's own
  cost (unpacking the batch, building the span arrays and the output).
"""

from __future__ import annotations

import sys
import time

# tokenizer function name -> leg family reported per doc
_FAMILY = {
    "tokenize": "html",
    "tokenize_pdf": "pdf", "tokenize_ps": "pdf",
    "tokenize_zip": "bundle", "tokenize_tar": "bundle", "tokenize_mbox": "bundle",
    "tokenize_mhtml": "bundle", "tokenize_eml": "bundle",
}
for _n in ("docx", "xlsx", "pptx", "epub", "odt", "ods", "odp", "doc", "xls", "ppt",
           "rtf", "mobi", "fb2"):
    _FAMILY[f"tokenize_{_n}"] = "office"
FAMILIES = ("html", "pdf", "office", "text", "bundle")


def _probe(page: bytes):
    """(payload given to dispatch_blocks, leg tokenizer it called last)."""
    from toyocr_spark.extractor import core

    seen: dict = {}

    def prof(frame, event, _arg):
        if event != "call":
            return
        code = frame.f_code
        if code is core.dispatch_blocks.__code__ and "frame" not in seen:
            # the outermost dispatch; archive legs re-enter it per member
            seen["frame"] = frame
            seen["payload"] = frame.f_locals["html"]
        elif code.co_name.startswith("tokenize") and frame.f_back is seen.get("frame"):
            seen["leg"] = frame.f_globals[code.co_name]

    sys.setprofile(prof)
    try:
        core.extract(page)
    finally:
        sys.setprofile(None)
    return seen.get("payload"), seen.get("leg")


def _best_s(fn, arg, repeats: int) -> float:
    """Fastest of ``repeats`` calls: the call's cost without scheduler noise."""
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn(arg)
        best = min(best, time.perf_counter() - t0)
    return best


def profile_kernel(pages: list[tuple[str, bytes]], repeats: int = 3) -> dict:
    """Per-doc phase costs (microseconds) and work counts over ``pages``
    (a list of ``(url, html bytes)``). Each call is timed as the fastest of
    ``repeats``, and a phase's cost is the sum over the sample."""
    import pyarrow as pa

    from toyocr_spark.extractor import core
    from toyocr_spark.extractor.layout import reading_order
    from toyocr_spark.extractor.select import select_blocks
    from toyocr_spark.pipeline import _extract_batches

    htmls = [h for _, h in pages]
    probes = [_probe(h) for h in htmls]
    routed = [(p, leg) for p, leg in probes if p is not None and leg is not None]
    payloads = [p for p, _ in routed]
    by_family: dict[str, list] = {f: [] for f in FAMILIES}
    for p, leg in routed:
        by_family[_FAMILY.get(leg.__name__, "text")].append((leg, p))

    def ordered(p):
        blocks = core.dispatch_blocks(p)
        out = reading_order(blocks) if blocks else blocks
        if out is not blocks:
            for i, b in enumerate(out):
                b.ordinal = i
        return out

    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array([u for u, _ in pages[i : i + 512]], pa.string()),
             pa.array(htmls[i : i + 512], pa.binary()),
             pa.array(range(i, min(i + 512, len(pages))), pa.int64())],
            names=["url", "html", "html_digest"],
        )
        for i in range(0, len(pages), 512)
    ]
    extract_s = sum(_best_s(core.extract, h, repeats) for h in htmls)
    # dispatch and the leg tokenizer alone, page by page, so that their
    # difference (the gate chain) compares like with like
    dispatch_s = 0.0
    leg_s = dict.fromkeys(FAMILIES, 0.0)
    for f in FAMILIES:
        for leg, p in by_family[f]:
            dispatch_s += _best_s(core.dispatch_blocks, p, repeats + 2)
            leg_s[f] += _best_s(leg, p, repeats + 2)
    layout_s = sum(_best_s(reading_order, core.dispatch_blocks(p), repeats) for p in payloads)
    select_s = sum(_best_s(select_blocks, ordered(p), repeats) for p in payloads)
    # the batch wrapper alone: extract() answered from a table of the
    # sample's precomputed results, so only the Arrow in/out work is timed
    import toyocr_spark.extractor as extractor_pkg

    results = [core.extract(h) for h in htmls]
    known = dict(zip(htmls, results))
    real = extractor_pkg.extract
    extractor_pkg.extract = known.__getitem__
    try:
        arrow_s = sum(
            _best_s(lambda b: list(_extract_batches(iter([b]))), b, repeats + 2) for b in batches
        )
    finally:
        extractor_pkg.extract = real

    n = len(htmls)
    n_blocks = sum(r.n_blocks for r in results)
    us = 1e6 / n
    return {
        "docs": n,
        "extract_us_per_doc": extract_s * us,
        "gate_us_per_doc": (dispatch_s - sum(leg_s.values())) * us,
        "tokenize_us_per_doc": sum(leg_s.values()) * us,
        "tokenize_us_per_doc_by_leg": {
            f: (leg_s[f] * 1e6 / len(by_family[f]) if by_family[f] else None) for f in FAMILIES
        },
        "docs_by_leg": {f: len(by_family[f]) for f in FAMILIES},
        "layout_us_per_doc": layout_s * us,
        "select_us_per_doc": select_s * us,
        "arrow_us_per_doc": arrow_s * us,
        "blocks_per_doc": n_blocks / n,
        "kept_frac": sum(r.n_kept for r in results) / n_blocks if n_blocks else 0.0,
        "empty_docs": sum(1 for r in results if not r.text),
        "truncated_docs": sum(1 for r in results if r.truncated),
    }
