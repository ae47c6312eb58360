"""The reference's PDF report sink, Spark-side (SURVEY §2.1 R22–R24).

``Raport.py:101-213`` renders: a title page, an overall clicks-per-service
pie (label ``f'{service} ({count})'``, share %), then per service a
heading + three pies (age/city/gender value histograms). That is pure
presentation over a tiny aggregate, so the engine boundary is drawn the
same way here:

- :func:`report_model` — the *data* of the report, assembled in Python
  from one driver-side ``collect()`` of the O(services × values)
  ``(topic, value, cnt)`` histogram. Deterministic, fully tested; the
  declarative ``clickstream.overall_clicks`` +
  ``clickstream.dimension_histograms`` are its test oracle.
- :func:`render_svg` — a ZERO-dependency renderer of the same model:
  title, overall pie, per-service dimension pies as a standalone SVG
  document (the deployable artifact this container can actually
  produce). Deterministic byte-for-byte — golden-file tested.
- :func:`render_pdf` — the actual raport.pdf artifact, rendered with
  ZERO dependencies (:mod:`.pdfcanvas` writes PDF 1.4 from the public
  spec: base-14 Helvetica, Bézier pie wedges, custom /Differences
  encoding for the Polish labels). Deterministic — golden-file tested.
- :func:`run_report_stream` — the 60 s processing-time trigger loop
  (``Raport.py:217-227``) as a Structured Streaming ``foreachBatch``:
  each epoch recomputes the aggregate *incrementally* (state store, one
  partition) instead of re-scanning the full log, and hands the model
  to a sink callback. Spark's epoch-transactional sink replaces the
  reference's psutil is-file-open guard (``Raport.py:91-98``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

from pyspark.sql import DataFrame

from ..sources.file_stream import start_stream
from .clickstream import topic_histograms

# Label a NULL demographic value is rendered with (FIXTURES.md §B).
NULL_LABEL = "brak danych"
# State width of the report's aggregate: its state is O(services ×
# values), ~2k rows, which one partition holds; each further partition
# only adds a state store to open and commit every epoch.
REPORT_STATE_WIDTH = 1
_SIX_PLACES = Decimal("1e-6")


def _share(cnt: int, total: int) -> float:
    """``cnt / total`` rounded as Spark's ``round(x, 6)`` rounds a double:
    HALF_UP on its shortest decimal string."""
    return float(
        Decimal(repr(cnt / total)).quantize(_SIX_PLACES, ROUND_HALF_UP)
    )


def report_model(histograms: DataFrame) -> dict[str, Any]:
    """Assemble the reference report structure from (topic, value, cnt).

    Mirrors Raport.py ordering exactly: overall section first
    (``:144-162``), then services sorted (deterministic stand-in for
    dict order), each with its age/city/gender histograms
    (``:165-201``); ``home`` excluded, empty histograms skipped
    (``:169-183``). A NULL value sorts after every other value of its
    histogram and stays ``None`` in the model.

    One ``collect()``: the histogram is O(services × values), and inside
    ``foreachBatch`` every action re-runs the micro-batch.
    """
    overall: dict[str, int] = {}
    counts: dict[tuple[str, str], list[tuple[str | None, int]]] = {}
    for topic, value, cnt in histograms.select("topic", "value", "cnt").collect():
        service = topic.split("_", 1)[0]
        dimension = topic.rsplit("_", 1)[-1]
        if topic.endswith("_clicks"):
            overall[service] = overall.get(service, 0) + cnt
        if service != "home" and dimension != "clicks":
            counts.setdefault((service, dimension), []).append((value, cnt))
    per_service: dict[str, dict[str, list[tuple[str | None, int, float]]]] = {}
    for (service, dimension), rows in sorted(counts.items()):
        total = sum(c for _, c in rows)
        per_service.setdefault(service, {})[dimension] = [
            (v, c, _share(c, total))
            for v, c in sorted(rows, key=lambda r: (r[0] is None, r[0] or ""))
        ]
    return {
        "title": "Raport analizy zachowań użytkowników",
        "overall": [
            {
                "service": s,
                "clicks": c,
                "label": f"{s} ({c})",
                "share": c / total if (total := sum(overall.values())) else 0.0,
            }
            for s, c in sorted(overall.items())
        ],
        "services": [
            {"service": s, "histograms": hists}
            for s, hists in sorted(per_service.items())
        ],
    }


def _value_label(value: str | None, cnt: int) -> str:
    return f"{NULL_LABEL if value is None else value} ({cnt})"


_PALETTE = (
    "#4e79a7", "#f28e2b", "#e15759", "#76b7b2", "#59a14f",
    "#edc948", "#b07aa1", "#ff9da7", "#9c755f", "#bab0ac",
)
_PIE_R = 70.0


def _pie_svg(cx: float, cy: float, slices: list[tuple[str, float]]) -> str:
    """SVG fragment: a pie at (cx, cy) from (label, fraction) slices.

    Fractions must sum to ~1. Slices start at 12 o'clock and run
    clockwise; a single full-circle slice renders as a <circle> (an arc
    with coincident endpoints would collapse). Pure math.* — no plotting
    library.
    """
    import math

    parts: list[str] = []
    if len([f for _, f in slices if f > 0]) == 1:
        color = _PALETTE[
            next(i for i, (_, f) in enumerate(slices) if f > 0) % len(_PALETTE)
        ]
        parts.append(
            f'<circle cx="{cx:.1f}" cy="{cy:.1f}" r="{_PIE_R:.1f}" '
            f'fill="{color}" stroke="white"/>'
        )
        return "".join(parts)
    angle = -math.pi / 2
    for i, (_, frac) in enumerate(slices):
        if frac <= 0:
            continue
        end = angle + 2 * math.pi * frac
        x1 = cx + _PIE_R * math.cos(angle)
        y1 = cy + _PIE_R * math.sin(angle)
        x2 = cx + _PIE_R * math.cos(end)
        y2 = cy + _PIE_R * math.sin(end)
        large = 1 if frac > 0.5 else 0
        parts.append(
            f'<path d="M{cx:.1f},{cy:.1f} L{x1:.2f},{y1:.2f} '
            f'A{_PIE_R:.1f},{_PIE_R:.1f} 0 {large} 1 {x2:.2f},{y2:.2f} Z" '
            f'fill="{_PALETTE[i % len(_PALETTE)]}" stroke="white"/>'
        )
        angle = end
    return "".join(parts)


def _legend_svg(
    x: float, y: float, entries: list[tuple[str, float]]
) -> str:
    """Legend rows: color swatch + 'label — NN.N%' (Raport.py:155 autopct)."""
    rows = []
    for i, (label, frac) in enumerate(entries):
        ly = y + i * 18
        rows.append(
            f'<rect x="{x:.1f}" y="{ly - 10:.1f}" width="12" height="12" '
            f'fill="{_PALETTE[i % len(_PALETTE)]}"/>'
            f'<text x="{x + 18:.1f}" y="{ly:.1f}" font-size="12">'
            f"{_esc(label)} — {frac * 100:.1f}%</text>"
        )
    return "".join(rows)


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def render_svg(model: dict[str, Any], path: str | None = None) -> str:
    """Render the report model as one standalone SVG document.

    Same artifact structure as the reference's raport.pdf
    (``Raport.py:101-213``): title block, overall clicks-per-service pie
    with ``{service} ({count})`` labels and percentage shares, then per
    service a heading and one pie per dimension (age/city/gender).
    Deterministic output for a given model (fixed palette, fixed layout,
    fixed float formatting) — golden-file testable. Returns the SVG text;
    writes it to ``path`` when given.
    """
    width = 640
    sections: list[str] = []
    y = 40.0
    sections.append(
        f'<text x="{width / 2}" y="{y:.1f}" text-anchor="middle" '
        f'font-size="20" font-weight="bold">{_esc(model["title"])}</text>'
    )
    y += 40
    overall = model["overall"]
    if overall:
        sections.append(
            f'<text x="40" y="{y:.1f}" font-size="16" font-weight="bold">'
            "Klikniecia w serwisy</text>"
        )
        y += 20
        entries = [(e["label"], e["share"]) for e in overall]
        sections.append(_pie_svg(140, y + _PIE_R + 10, entries))
        sections.append(_legend_svg(260, y + 30, entries))
        y += 2 * _PIE_R + 40
    for svc in model["services"]:
        sections.append(
            f'<text x="40" y="{y:.1f}" font-size="16" font-weight="bold">'
            f"Raport serwisu: {_esc(svc['service'])}</text>"
        )
        y += 20
        for dim in sorted(svc["histograms"]):
            rows = svc["histograms"][dim]
            total = sum(c for _, c, _ in rows) or 1
            entries = [(_value_label(v, c), c / total) for v, c, _ in rows]
            sections.append(
                f'<text x="40" y="{y:.1f}" font-size="13">{_esc(dim)}</text>'
            )
            y += 10
            sections.append(_pie_svg(140, y + _PIE_R, entries))
            sections.append(_legend_svg(260, y + 20, entries))
            y += 2 * _PIE_R + 30
    height = int(y + 20)
    svg = (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" viewBox="0 0 {width} {height}">'
        f'<rect width="{width}" height="{height}" fill="white"/>'
        + "".join(sections)
        + "</svg>"
    )
    if path is not None:
        tmp = f"{path}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(svg)
        os.replace(tmp, path)  # atomic: readers never see a torn file
    return svg


def svg_sink(path: str) -> Callable[[dict[str, Any], int], None]:
    """A ``run_report_stream`` sink that (re)writes ``path`` per epoch —
    the Spark-side twin of the reference overwriting raport.pdf every
    60 s (``Raport.py:204,217-227``). The atomic rename in
    :func:`render_svg` replaces the reference's psutil open-file guard
    (``Raport.py:91-98``)."""

    def sink(model: dict[str, Any], epoch_id: int) -> None:
        render_svg(model, path)

    return sink


def _rgb(hex_color: str) -> tuple[float, float, float]:
    h = hex_color.lstrip("#")
    return tuple(int(h[i : i + 2], 16) / 255.0 for i in (0, 2, 4))


def _pie_pdf(page, cx: float, cy: float, slices) -> None:
    """PDF twin of :func:`_pie_svg` — same palette, same start-at-12,
    same clockwise slice order (PDF's y-axis points up, so clockwise on
    screen = decreasing angle; slice i starts at π/2)."""
    import math

    white = (1.0, 1.0, 1.0)
    nonzero = [(i, f) for i, (_, f) in enumerate(slices) if f > 0]
    if len(nonzero) == 1:
        page.circle(
            cx, cy, _PIE_R, _rgb(_PALETTE[nonzero[0][0] % len(_PALETTE)]),
            stroke=white,
        )
        return
    angle = math.pi / 2
    for i, (_, frac) in enumerate(slices):
        if frac <= 0:
            continue
        end = angle - 2 * math.pi * frac
        page.wedge(
            cx, cy, _PIE_R, angle, end,
            _rgb(_PALETTE[i % len(_PALETTE)]), stroke=white,
        )
        angle = end


def _legend_pdf(page, x: float, y: float, entries) -> None:
    """PDF twin of :func:`_legend_svg`: swatch + 'label — NN.N%' rows,
    top-down from ``y`` (PDF y-up, so rows step negative)."""
    for i, (label, frac) in enumerate(entries):
        ly = y - i * 18
        page.rect(x, ly - 2, 12, 12, _rgb(_PALETTE[i % len(_PALETTE)]))
        page.text(x + 18, ly, f"{label} — {frac * 100:.1f}%", size=12)


_PAGE_W, _PAGE_H = 595.0, 842.0  # A4 points, like the reference's output


def render_pdf(model: dict[str, Any], path: str | None = None) -> bytes:
    """Render the report model to a pie-chart PDF (Raport.py:101-213) —
    zero dependencies (:mod:`.pdfcanvas` writes PDF 1.4 directly).

    Page-level parity with the reference's matplotlib ``PdfPages``
    output: page 1 = title + overall clicks-per-service pie with
    ``{service} ({count})`` labels and % shares (``Raport.py:144-162``),
    then one page per service — heading + one pie per dimension
    (age/city/gender value histograms, ``:168-201``) — paginating if a
    service's pies overflow. Deterministic byte-for-byte for a given
    model (fixed palette/layout/float formatting, no timestamps) —
    golden-file tested like its SVG twin. Returns the PDF bytes; also
    writes them atomically to ``path`` when given.
    """
    from .pdfcanvas import PdfDocument, write_atomic

    doc = PdfDocument()
    page = doc.new_page(_PAGE_W, _PAGE_H)
    y = _PAGE_H - 60
    page.text(_PAGE_W / 2, y, model["title"], size=20, bold=True, center=True)
    y -= 40
    overall = model["overall"]
    if overall:
        page.text(40, y, "Klikniecia w serwisy", size=16, bold=True)
        y -= 20
        entries = [(e["label"], e["share"]) for e in overall]
        _pie_pdf(page, 140, y - _PIE_R - 10, entries)
        _legend_pdf(page, 260, y - 30, entries)
    block_h = 2 * _PIE_R + 40  # label + pie + breathing room
    for svc in model["services"]:
        page = doc.new_page(_PAGE_W, _PAGE_H)
        y = _PAGE_H - 60
        page.text(
            40, y, f"Raport serwisu: {svc['service']}", size=16, bold=True
        )
        y -= 30
        for dim in sorted(svc["histograms"]):
            if y - block_h < 20:  # overflow → continue on a fresh page
                page = doc.new_page(_PAGE_W, _PAGE_H)
                y = _PAGE_H - 60
            rows = svc["histograms"][dim]
            total = sum(c for _, c, _ in rows) or 1
            entries = [(_value_label(v, c), c / total) for v, c, _ in rows]
            page.text(40, y, dim, size=13)
            y -= 10
            _pie_pdf(page, 140, y - _PIE_R, entries)
            _legend_pdf(page, 260, y - 20, entries)
            y -= block_h
    data = doc.tobytes()
    if path is not None:
        write_atomic(path, data)
    return data


def pdf_sink(path: str) -> Callable[[dict[str, Any], int], None]:
    """A ``run_report_stream`` sink that (re)writes ``path`` per epoch —
    the direct analog of the reference overwriting raport.pdf every 60 s
    (``Raport.py:204,217-227``), atomic-rename in place of the psutil
    open-file guard (``:91-98``)."""

    def sink(model: dict[str, Any], epoch_id: int) -> None:
        render_pdf(model, path)

    return sink


def run_report_stream(
    messages: DataFrame,
    sink: Callable[[dict[str, Any], int], None],
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint_dir: str | None = None,
):
    """The reference's report loop as an incremental streaming job.

    ``messages`` is a *streaming* (topic, value) DataFrame (see
    ``sources.file_stream.stream_table`` / ``sources.kafka``). Each
    trigger updates the per-(topic, value) histogram in the state store
    (complete output), re-assembles the report model, and calls
    ``sink(model, epoch_id)`` — where the reference writes raport.pdf
    every 60 s after re-reading the whole log (``Raport.py:217-227``),
    this touches only the new data per cycle.

    Per epoch that is one Spark job: the new input, the users join and
    the aggregate, whose state (``REPORT_STATE_WIDTH`` partition) is
    committed once, feed the one ``collect()`` of
    :func:`report_model`. The users side of ``fan_out_messages`` adds
    its broadcast; in-memory users are a snapshot materialized on the
    first epoch and read back from the JVM after that, while JDBC- or
    file-backed users are re-read every epoch.

    ``checkpoint_dir``: a caller-supplied checkpoint is where a restart
    resumes. By default each call takes a fresh one under the temp dir,
    removed when the returned query is stopped or ``awaitTermination``
    sees it ended.
    """

    def for_each_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sink(report_model(batch_df), epoch_id)

    trigger = (
        {"availableNow": True}
        if available_now
        else {"processingTime": f"{trigger_seconds} seconds"}
    )
    return start_stream(
        topic_histograms(messages),
        for_each_batch,
        "complete",
        trigger,
        REPORT_STATE_WIDTH,
        checkpoint_dir,
    )
