"""Result-rendering sinks (SURVEY.md §2 B8; reference A7).

The reference renders query results to HTML via Handlebars templates
(reference src/template.rs:24-46, templates/page.hbs). Here every sink
renders rows the caller has already collected — column names plus a
sequence of row tuples, normally ``df.limit(n).collect()`` — so rendering
never runs a Spark job and a result is collected once whatever the
format. The caller's explicit limit keeps an unbounded result set off the
driver. Chart (SVG) and PDF rendering (reference README.md:7) need no
dependencies.
"""

from __future__ import annotations

import html as _html
from collections.abc import Sequence

# Page layout mirrors the reference's Handlebars structure
# (templates/page.hbs:1-14): inline `title` / `content` partials, the
# /web_assets/styles.css stylesheet link and the bg-red body class.
_PAGE = """<!DOCTYPE html>
<html>

<head>
    <title>{title}</title>
    <link rel="stylesheet" href="/web_assets/styles.css">
</head>

<body class="bg-red font-sans">
    {body}
</body>

</html>"""


def _sectioned(h1: str, logs: str, result_html: str) -> str:
    """The found_file/found_directory content block (templates/
    found_file.hbs:7-14): Workspace Logs + Workspace Query Results."""
    return (
        f"<h1>{_html.escape(h1)}</h1>\n"
        f"<h2>Workspace Logs:</h2>\n<pre>{_html.escape(logs)}</pre>\n"
        f"<h2>Workspace Query Results:</h2>\n{result_html}"
    )


def render_html(
    cols: Sequence[str], rows: Sequence[Sequence], title: str = "result"
) -> str:
    """Render ``rows`` as an HTML table inside the sectioned page layout
    (reference templates/found_file.hbs)."""
    head = "".join(f"<th>{_html.escape(c)}</th>" for c in cols)
    body_rows = "".join(
        "<tr>" + "".join(f"<td>{_html.escape(str(v))}</td>" for v in r) + "</tr>"
        for r in rows
    )
    table = f"<table><thead><tr>{head}</tr></thead><tbody>{body_rows}</tbody></table>"
    return _PAGE.format(
        title=_html.escape(title),
        body=_sectioned(title, f"rendered {len(rows)} row(s)", table),
    )


def render_file(name: str, contents: str) -> str:
    """Found-file page (reference templates/found_file.hbs)."""
    return _PAGE.format(
        title="Found file",
        body=_sectioned("Found file", name, f"<pre>{_html.escape(contents)}</pre>"),
    )


def render_error(message: str) -> str:
    """Error page (reference templates/error.hbs: Error title +
    paragraph body)."""
    return _PAGE.format(
        title="Error",
        body=f"<h1>Error</h1>\n<p>{_html.escape(message)}</p>",
    )


def render_listing(name: str, items: list[str]) -> str:
    """Directory-listing page (reference templates/found_directory.hbs)."""
    lis = "".join(f"<li>{_html.escape(i)}</li>" for i in items)
    return _PAGE.format(
        title="Found directory",
        body=_sectioned("Found directory", name, f"<ul>{lis}</ul>"),
    )


def render_chart_svg(
    cols: Sequence[str],
    rows: Sequence[Sequence],
    width: int = 640,
    height: int = 360,
) -> str:
    """Bar chart of the first column (labels) vs the second (values) →
    standalone SVG (no dependencies); one bar per row.

    Realizes the reference's declared charting purpose
    (/root/reference/README.md:7 "Quickly creating charts … from CSV
    files") as a driver-side sink over a collected result: chart data is
    always a small aggregate by the time it is drawn — the heavy work
    stayed distributed.
    """
    if not rows:
        return f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}"/>'
    x, y = cols[0], cols[1]
    vals = [float(r[1]) if r[1] is not None else 0.0 for r in rows]
    labels = [str(r[0]) for r in rows]
    vmax = max(max(vals), 0.0) or 1.0
    pad, axis_h = 40, 20
    plot_w, plot_h = width - 2 * pad, height - 2 * pad - axis_h
    bw = plot_w / len(vals)
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}">',
        f'<text x="{width/2:.1f}" y="15" text-anchor="middle" font-size="12">{_html.escape(y)} by {_html.escape(x)}</text>',
    ]
    for i, (v, lab) in enumerate(zip(vals, labels)):
        h = 0.0 if vmax == 0 else max(v, 0.0) / vmax * plot_h
        bx = pad + i * bw
        by = pad + (plot_h - h)
        parts.append(
            f'<rect x="{bx:.1f}" y="{by:.1f}" width="{bw * 0.8:.1f}" '
            f'height="{h:.1f}" fill="#4878a8"><title>{_html.escape(lab)}: {v}</title></rect>'
        )
        parts.append(
            f'<text x="{bx + bw * 0.4:.1f}" y="{height - pad:.1f}" '
            f'text-anchor="middle" font-size="9">{_html.escape(lab[:12])}</text>'
        )
    parts.append(
        f'<line x1="{pad}" y1="{pad + plot_h:.1f}" x2="{width - pad}" '
        f'y2="{pad + plot_h:.1f}" stroke="black"/>'
    )
    parts.append("</svg>")
    return "".join(parts)


def render_pdf(
    cols: Sequence[str], rows: Sequence[Sequence], title: str = "result"
) -> bytes:
    """Result table → minimal single-page PDF (no dependencies).

    Hand-assembled PDF 1.4: one page, Helvetica, one text line per row
    (the page holds the header and about 60 rows; the rest are cut).
    Completes the reference's "charts and PDFs" purpose
    (/root/reference/README.md:7) for result export; rendering is
    driver-side over an already-small collected result.
    """
    lines = [" | ".join(cols)] + [" | ".join(str(v) for v in r) for r in rows]

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content_lines = [f"BT /F1 14 Tf 40 800 Td ({esc(title)}) Tj ET"]
    ypos = 780
    for line in lines:
        content_lines.append(f"BT /F1 9 Tf 40 {ypos} Td ({esc(line[:120])}) Tj ET")
        ypos -= 12
        if ypos < 40:
            break
    stream = "\n".join(content_lines).encode("latin-1", "replace")

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 842] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)
