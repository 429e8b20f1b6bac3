"""PNG/SVG graph rendering: format=png / format=svg for /render.

The reference renders with cairo (``expr/functions/cairo/png/png.go``,
dispatch ``cmd/carbonapi/http/render_handler.go:371-420``); this container
has no cairo/matplotlib/PIL, so the raster path is self-contained: a numpy
canvas + a stdlib-zlib PNG encoder, with text drawn from a small built-in
stroke font (vector polylines, shared with the SVG path). Pixel parity
with cairo is a non-goal; dimensions, series geometry, colors, decorators
and the param surface (width/height/bgcolor/fgcolor/title/hideLegend/
lineWidth/colorList/yMin/yMax/areaMode/logBase/drawNullAsZero/yStep/
minorY/majorGridLineColor/minorGridLineColor/hideYAxis/yUnitSystem,
the dual-axis family secondYAxis + yMinLeft/Right + yMaxLeft/Right +
yLimitLeft/Right + yStepLeft/Right (``setupTwoYAxes``,
``cairo.go:1302-1586``), and ``yDivisors`` —
``picture_params.go:233-301``) follow the reference.

Deliberate deviations / non-goals (beyond pixel parity): ``minorY``
defaults to 0 here (cairo defaults to 1 minor line between majors;
our long-standing golden rasters pin the majors-only default);
``yDivisors`` only switches the step selector to the reference
algorithm when EXPLICITLY provided (the default ticks stay on the
golden-pinned _nice_ticks ladder); ``logBase`` on the dual-axis path
renders each side on its own log scale (snapped to powers of the base,
same mapping as the single-axis branch) — a deviation in the user's
favor, since the reference PANICS on log+dual (cairo.go setupTwoYAxes
has no log handling and logs of non-positive mins blow up), and
silently ignoring the param was worse than either; ``margin`` defaults
to 0 extra padding (cairo: 10 — the golden
layout stands, margin only adds on request); ``fontName``/``fontBold``
/``fontItalic`` are accepted-and-ignored (single built-in stroke
font); ``pieMode``/``graphType=pie`` are accepted-and-ignored exactly
like the reference (cairo.go stores pieMode but has no pie drawing
path); ``xMin``/``xMax``/``xStep`` ARE implemented here — epoch-second
x-window clip + forced x-tick stride — which is a deviation in the
user's favor: the reference parses them into its param struct
(picture_params.go:271-273, cairo.go:431-434) but never consumes them
(``area.xmin`` at cairo.go:1576 is an unrelated internal layout
coordinate), i.e. it accepts-then-ignores; ``xFormat`` IS honored for
label formatting.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

# reference DefaultColorList (picture_params.go:15) and graphite color names
DEFAULT_COLOR_LIST = ["blue", "green", "red", "purple", "brown", "yellow",
                      "aqua", "grey", "magenta", "pink", "gold", "rose"]
COLORS = {
    "black": (0, 0, 0), "white": (255, 255, 255), "blue": (100, 100, 255),
    "green": (0, 200, 0), "red": (200, 0, 50), "purple": (200, 100, 255),
    "brown": (150, 100, 50), "yellow": (255, 255, 0), "aqua": (0, 150, 150),
    "grey": (175, 175, 175), "gray": (175, 175, 175),
    "magenta": (255, 0, 255), "pink": (255, 100, 100),
    "gold": (200, 200, 0), "rose": (200, 150, 200), "orange": (255, 165, 0),
    "darkblue": (0, 0, 255), "darkgreen": (0, 255, 0),
    "darkred": (255, 0, 0), "darkgray": (111, 111, 111),
    "darkgrey": (111, 111, 111),
}


def parse_color(s: str, default=(255, 255, 255)) -> tuple[int, int, int]:
    if not s:
        return default
    s = s.strip().lower()
    if s in COLORS:
        return COLORS[s]
    h = s.lstrip("#")
    if len(h) in (6, 8) and all(c in "0123456789abcdef" for c in h):
        return tuple(int(h[i:i + 2], 16) for i in (0, 2, 4))
    return default


# ---------------------------------------------------------------- stroke font
# Minimal vector font: each glyph is a list of polylines in a 4-wide,
# 6-tall box (y grows downward). Advance = 6 units. Original data.
_G = {
    "0": [[(0, 1), (1, 0), (3, 0), (4, 1), (4, 5), (3, 6), (1, 6), (0, 5), (0, 1)], [(0, 5), (4, 1)]],
    "1": [[(1, 1), (2, 0), (2, 6)], [(1, 6), (3, 6)]],
    "2": [[(0, 1), (1, 0), (3, 0), (4, 1), (4, 2), (0, 6), (4, 6)]],
    "3": [[(0, 0), (4, 0), (2, 2), (4, 4), (4, 5), (3, 6), (1, 6), (0, 5)]],
    "4": [[(3, 6), (3, 0), (0, 4), (4, 4)]],
    "5": [[(4, 0), (0, 0), (0, 3), (3, 3), (4, 4), (4, 5), (3, 6), (0, 6)]],
    "6": [[(3, 0), (1, 0), (0, 1), (0, 5), (1, 6), (3, 6), (4, 5), (4, 4), (3, 3), (0, 3)]],
    "7": [[(0, 0), (4, 0), (1, 6)]],
    "8": [[(1, 0), (3, 0), (4, 1), (4, 2), (3, 3), (1, 3), (0, 4), (0, 5), (1, 6), (3, 6), (4, 5), (4, 4), (3, 3)], [(1, 3), (0, 2), (0, 1), (1, 0)]],
    "9": [[(4, 3), (1, 3), (0, 2), (0, 1), (1, 0), (3, 0), (4, 1), (4, 5), (3, 6), (1, 6)]],
    "A": [[(0, 6), (2, 0), (4, 6)], [(1, 4), (3, 4)]],
    "B": [[(0, 6), (0, 0), (3, 0), (4, 1), (4, 2), (3, 3), (0, 3)], [(3, 3), (4, 4), (4, 5), (3, 6), (0, 6)]],
    "C": [[(4, 1), (3, 0), (1, 0), (0, 1), (0, 5), (1, 6), (3, 6), (4, 5)]],
    "D": [[(0, 0), (3, 0), (4, 1), (4, 5), (3, 6), (0, 6), (0, 0)]],
    "E": [[(4, 0), (0, 0), (0, 6), (4, 6)], [(0, 3), (3, 3)]],
    "F": [[(4, 0), (0, 0), (0, 6)], [(0, 3), (3, 3)]],
    "G": [[(4, 1), (3, 0), (1, 0), (0, 1), (0, 5), (1, 6), (3, 6), (4, 5), (4, 3), (2, 3)]],
    "H": [[(0, 0), (0, 6)], [(4, 0), (4, 6)], [(0, 3), (4, 3)]],
    "I": [[(1, 0), (3, 0)], [(2, 0), (2, 6)], [(1, 6), (3, 6)]],
    "J": [[(4, 0), (4, 5), (3, 6), (1, 6), (0, 5)]],
    "K": [[(0, 0), (0, 6)], [(4, 0), (0, 3), (4, 6)]],
    "L": [[(0, 0), (0, 6), (4, 6)]],
    "M": [[(0, 6), (0, 0), (2, 3), (4, 0), (4, 6)]],
    "N": [[(0, 6), (0, 0), (4, 6), (4, 0)]],
    "O": [[(1, 0), (3, 0), (4, 1), (4, 5), (3, 6), (1, 6), (0, 5), (0, 1), (1, 0)]],
    "P": [[(0, 6), (0, 0), (3, 0), (4, 1), (4, 2), (3, 3), (0, 3)]],
    "Q": [[(1, 0), (3, 0), (4, 1), (4, 5), (3, 6), (1, 6), (0, 5), (0, 1), (1, 0)], [(2, 4), (4, 6)]],
    "R": [[(0, 6), (0, 0), (3, 0), (4, 1), (4, 2), (3, 3), (0, 3)], [(2, 3), (4, 6)]],
    "S": [[(4, 1), (3, 0), (1, 0), (0, 1), (0, 2), (4, 4), (4, 5), (3, 6), (1, 6), (0, 5)]],
    "T": [[(0, 0), (4, 0)], [(2, 0), (2, 6)]],
    "U": [[(0, 0), (0, 5), (1, 6), (3, 6), (4, 5), (4, 0)]],
    "V": [[(0, 0), (2, 6), (4, 0)]],
    "W": [[(0, 0), (1, 6), (2, 3), (3, 6), (4, 0)]],
    "X": [[(0, 0), (4, 6)], [(4, 0), (0, 6)]],
    "Y": [[(0, 0), (2, 3), (4, 0)], [(2, 3), (2, 6)]],
    "Z": [[(0, 0), (4, 0), (0, 6), (4, 6)]],
    ".": [[(2, 5.5), (2, 6)]],
    ",": [[(2.2, 5.5), (1.8, 6.5)]],
    ":": [[(2, 1.5), (2, 2)], [(2, 5), (2, 5.5)]],
    ";": [[(2, 1.5), (2, 2)], [(2.2, 5), (1.8, 6)]],
    "-": [[(1, 3), (3, 3)]],
    "+": [[(2, 1), (2, 5)], [(0, 3), (4, 3)]],
    "_": [[(0, 6), (4, 6)]],
    "(": [[(3, 0), (2, 1), (2, 5), (3, 6)]],
    ")": [[(1, 0), (2, 1), (2, 5), (1, 6)]],
    "[": [[(3, 0), (2, 0), (2, 6), (3, 6)]],
    "]": [[(1, 0), (2, 0), (2, 6), (1, 6)]],
    "/": [[(0, 6), (4, 0)]],
    "\\": [[(0, 0), (4, 6)]],
    "*": [[(2, 1), (2, 5)], [(0, 2), (4, 4)], [(4, 2), (0, 4)]],
    "=": [[(0, 2), (4, 2)], [(0, 4), (4, 4)]],
    "%": [[(0, 6), (4, 0)], [(0.5, 0), (1.5, 1)], [(2.5, 5), (3.5, 6)]],
    "'": [[(2, 0), (2, 1.5)]],
    '"': [[(1.3, 0), (1.3, 1.5)], [(2.7, 0), (2.7, 1.5)]],
    "<": [[(3, 1), (1, 3), (3, 5)]],
    ">": [[(1, 1), (3, 3), (1, 5)]],
    "|": [[(2, 0), (2, 6)]],
    "#": [[(1.3, 1), (1.3, 5)], [(2.7, 1), (2.7, 5)], [(0.5, 2.3), (3.5, 2.3)], [(0.5, 3.7), (3.5, 3.7)]],
    " ": [],
}


def text_strokes(s: str, x: float, y: float, size: float = 1.0):
    """Polylines (in px) for string ``s`` anchored at top-left (x, y)."""
    out = []
    cx = x
    for ch in s:
        g = _G.get(ch.upper() if ch.isalpha() else ch)
        if g is None:
            g = _G["."]
        for line in g:
            out.append([(cx + px * size, y + py * size) for px, py in line])
        cx += 6 * size
    return out


def text_width(s: str, size: float = 1.0) -> float:
    return len(s) * 6 * size


# ------------------------------------------------------------------- canvas

class Canvas:
    """uint8 RGB raster with alpha-blended line/box primitives."""

    def __init__(self, w: int, h: int, bg=(0, 0, 0)):
        self.w, self.h = int(w), int(h)
        self.a = np.empty((self.h, self.w, 3), dtype=np.uint8)
        self.a[:] = np.array(bg, dtype=np.uint8)

    def _plot(self, xs, ys, color, alpha):
        """Blend ``color`` at integer coords (vectorized, deduplicated)."""
        keep = (xs >= 0) & (xs < self.w) & (ys >= 0) & (ys < self.h)
        if not keep.any():
            return
        idx = np.unique(ys[keep].astype(np.int64) * self.w
                        + xs[keep].astype(np.int64))
        flat = self.a.reshape(-1, 3)
        c = np.array(color, dtype=np.float64)
        flat[idx] = (flat[idx] * (1 - alpha) + c * alpha).astype(np.uint8)

    def line(self, x0, y0, x1, y1, color, width=1.0, alpha=1.0):
        n = max(2, int(math.hypot(x1 - x0, y1 - y0) * 2) + 1)
        t = np.linspace(0.0, 1.0, n)
        xs = x0 + (x1 - x0) * t
        ys = y0 + (y1 - y0) * t
        r = max(0.5, width / 2)
        offs = np.arange(-math.ceil(r - 0.5), math.ceil(r - 0.5) + 1)
        # stamp a (2r+1)^2 neighborhood along the sampled path
        for dx in offs:
            for dy in offs:
                if dx * dx + dy * dy <= r * r + 0.26:
                    self._plot(np.round(xs + dx), np.round(ys + dy),
                               color, alpha)

    def polyline(self, pts, color, width=1.0, alpha=1.0):
        for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
            self.line(x0, y0, x1, y1, color, width, alpha)

    def vfill(self, x, y0, y1, color, alpha=1.0):
        """Vertical 1px fill (area mode)."""
        xi = int(round(x))
        if not 0 <= xi < self.w:
            return
        lo, hi = sorted((int(round(y0)), int(round(y1))))
        lo, hi = max(lo, 0), min(hi, self.h - 1)
        if lo > hi:
            return
        col = self.a[lo:hi + 1, xi, :].astype(np.float64)
        c = np.array(color, dtype=np.float64)
        self.a[lo:hi + 1, xi, :] = (col * (1 - alpha) + c * alpha).astype(np.uint8)

    def rect(self, x0, y0, x1, y1, color, alpha=1.0):
        for x in range(int(x0), int(x1) + 1):
            self.vfill(x, y0, y1, color, alpha)

    def text(self, s, x, y, color, size=1.0, width=1.0, alpha=1.0):
        for line in text_strokes(s, x, y, size):
            if len(line) == 1:
                line = line + line
            self.polyline(line, color, width, alpha)

    def vtext(self, s, x, y, color, size=1.0, width=1.0, alpha=1.0,
              up=True):
        """Vertical text for axis titles (drawVTitle cairo.go): glyph
        strokes rotated 90° about the anchor — ``up=True`` reads
        bottom-to-top starting at (x, y) (the reference's left vtitle,
        rotation 270°), ``up=False`` top-to-bottom (right vtitle)."""
        for line in text_strokes(s, 0, 0, size):
            if up:
                pts = [(x + py, y - px) for px, py in line]
            else:
                pts = [(x - py, y + px) for px, py in line]
            if len(pts) == 1:
                pts = pts + pts
            self.polyline(pts, color, width, alpha)


def encode_png(arr: np.ndarray) -> bytes:
    """8-bit RGB PNG, filter 0 scanlines, one zlib IDAT (RFC 2083)."""
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def decode_png_size(data: bytes) -> tuple[int, int]:
    """(width, height) from the IHDR — for tests and sanity checks."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a png")
    w, h = struct.unpack(">II", data[16:24])
    return w, h


# ------------------------------------------------------------------ layout

def _nice_ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    if not math.isfinite(lo) or not math.isfinite(hi) or hi <= lo:
        return [lo] if math.isfinite(lo) else [0.0]
    span = hi - lo
    step = 10 ** math.floor(math.log10(span / max(n, 1)))
    for m in (1, 2, 5, 10, 20, 50):
        if span / (step * m) <= n:
            step *= m
            break
    t0 = math.ceil(lo / step) * step
    out = []
    t = t0
    while t <= hi + 1e-9 * span:
        out.append(round(t, 10))
        t += step
    return out


# cairo.go:76-90 unitSystems: prefix ladders for y-label formatting
_UNIT_SYSTEMS = {
    "si": [("P", 1e15), ("T", 1e12), ("G", 1e9), ("M", 1e6), ("K", 1e3)],
    "binary": [("Pi", 1024.0 ** 5), ("Ti", 1024.0 ** 4),
               ("Gi", 1024.0 ** 3), ("Mi", 1024.0 ** 2), ("Ki", 1024.0)],
    "none": [],
}


def _fmt_val(v: float, unit_system: str = "si") -> str:
    for unit, scale in _UNIT_SYSTEMS.get(unit_system, _UNIT_SYSTEMS["si"]):
        if abs(v) >= scale:
            return f"{v / scale:.4g}{unit}"
    if v == int(v):
        return str(int(v))
    return f"{v:.4g}"


def _fmt_ts(ts: int, span: int, tzinfo=None, fmt: str = "") -> str:
    import datetime as dt
    try:
        d = dt.datetime.fromtimestamp(ts, tzinfo or dt.timezone.utc)
    except (ValueError, OverflowError, OSError):
        # out-of-time_t-range tick (possible via extreme xMin/xMax):
        # label degrades to the raw epoch value, never a 500
        return str(int(ts))
    if fmt:
        # xFormat (picture_params.go:292, drawXAxis cairo.go:2017-2021):
        # explicit strftime pattern beats the span-derived default
        try:
            return d.strftime(fmt)
        except (ValueError, OverflowError):
            pass
    if span <= 2 * 86400:
        return d.strftime("%H:%M")
    if span <= 120 * 86400:
        return d.strftime("%m/%d")
    return d.strftime("%Y/%m")


# Every query-string key GraphParams consumes — THE source of truth for
# the render response-cache key (api.py): a param missing here would let
# the cache serve a raster rendered under different settings.
# tests/test_render.py pins this list against GraphParams.__init__.
GRAPH_PARAM_KEYS = (
    "width", "height", "bgcolor", "fgcolor", "title", "hideLegend",
    "hideAxes", "hideYAxis", "hideGrid", "lineWidth", "areaMode",
    "yMin", "yMax", "yStep", "minorY", "majorGridLineColor",
    "minorGridLineColor", "colorList", "logBase", "drawNullAsZero",
    "yUnitSystem", "yMinLeft", "yMinRight", "yMaxLeft", "yMaxRight",
    "yLimitLeft", "yLimitRight", "yStepLeft", "yStepRight", "yDivisors",
    "vtitle", "vtitleRight", "template", "lineMode", "connectedLimit",
    "areaAlpha", "hideXAxis", "graphOnly", "fontSize", "margin",
    "uniqueLegend", "rightWidth", "rightColor", "rightDashed",
    "leftWidth", "leftColor", "leftDashed", "tz", "pixelRatio",
    "xFormat", "xMin", "xMax", "xStep",
)

# Named picture-param templates (picture_params.go:434 `templates` +
# SetTemplate :357-360, selected by render_handler.go:114 `template=`).
# A template supplies per-key DEFAULTS in query-string syntax; explicit
# request params always win, and an unknown template name falls back to
# "default" (GetPictureParamsWithTemplate picture_params.go:215-218 —
# never a 400).  The reference ships only "default" built in and lets
# the operator add more via the graphTemplates config block; mirror
# that with a registry hook.
TEMPLATES: dict[str, dict[str, str]] = {"default": {}}


def register_template(name: str, params: dict[str, str]) -> None:
    """Config hook: add/replace a named template (SetTemplate,
    picture_params.go:357-360).  ``params`` maps GRAPH_PARAM_KEYS names
    to query-string-syntax values, e.g. {"bgcolor": "white",
    "fgcolor": "black", "minorY": "1"}."""
    TEMPLATES[name.lower()] = {k: str(v) for k, v in params.items()}


class GraphParams:
    """format=png/svg render params (picture_params.go:233-296 subset)."""

    def __init__(self, params: dict):
        tmpl_name = params.get("template", [""])[0].strip().lower()
        tmpl = TEMPLATES.get(tmpl_name) or TEMPLATES["default"]

        def get(name, default=""):
            # precedence: explicit request param > template > built-in
            return (params.get(name, [""])[0]
                    or tmpl.get(name, "") or default)

        def num(name, default, lo=None, hi=None, as_int=False):
            """Parse-or-default: the reference's param getters fall
            back to the default on garbage (getFloat/getInt,
            picture_params.go) — a malformed value must render the
            default graph, never 500."""
            try:
                v = float(get(name, str(default)))
            except (ValueError, OverflowError):
                v = float(default)
            if not math.isfinite(v):
                v = float(default)
            if lo is not None:
                v = max(v, lo)
            if hi is not None:
                v = min(v, hi)
            return int(v) if as_int else v

        # clamp to cairo's practical surface limits: an unchecked
        # width/height pair from the query string could allocate a
        # multi-GB canvas (one request OOMing the render server)
        self.width = num("width", 330, 1, 8192, as_int=True)
        self.height = num("height", 250, 1, 8192, as_int=True)
        # pixelRatio (cairo.go:991-997 device scale): scale the surface
        # and every size-bearing default; clamped so a request can't
        # explode the canvas beyond the width/height caps
        self.pixel_ratio = num("pixelRatio", 1.0, 0.25, 4.0)
        if self.pixel_ratio != 1.0:
            self.width = min(max(int(self.width * self.pixel_ratio),
                                 1), 8192)
            self.height = min(max(int(self.height * self.pixel_ratio),
                                  1), 8192)
        self.bgcolor = parse_color(get("bgcolor", "black"), (0, 0, 0))
        self.fgcolor = parse_color(get("fgcolor", "white"), (255, 255, 255))
        self.title = get("title")
        # vtitle/vtitleRight (picture_params.go:255-256): rotated axis
        # titles; the right one renders only with a secondYAxis series
        # (drawVTitle gate, cairo.go:1149-1153)
        self.vtitle = get("vtitle")
        self.vtitle_right = get("vtitleRight")
        self.hide_legend = get("hideLegend") in ("1", "true", "True")
        self.hide_axes = get("hideAxes") in ("1", "true", "True")
        self.hide_y_axis = get("hideYAxis") in ("1", "true", "True")
        self.hide_grid = get("hideGrid") in ("1", "true", "True")
        # cairo.go:72-90: y-label prefix ladder — si (K/M/G/T/P, 1000),
        # binary (Ki/Mi/Gi/Ti/Pi, 1024), none (raw numbers)
        self.y_unit_system = get("yUnitSystem", "si")
        self.line_width = num("lineWidth", 1.2, 0.0, 100.0) \
            * self.pixel_ratio
        self.area_mode = get("areaMode", "none")
        # lineMode (picture_params.go:266; drawn cairo.go:2376-2390):
        # slope = point-to-point (default), staircase = horizontal-then-
        # vertical steps, connected = bridge null gaps of up to
        # connectedLimit consecutive misses (reference default
        # MaxInt32 = always bridge)
        lm = get("lineMode", "slope").strip().lower()
        self.line_mode = lm if lm in ("slope", "staircase",
                                      "connected") else "slope"
        try:
            self.connected_limit = max(0, int(float(
                get("connectedLimit")))) if get("connectedLimit") else None
        except (ValueError, OverflowError):
            self.connected_limit = None
        # areaAlpha (cairo.go:2249-2262): area-fill opacity override
        try:
            self.area_alpha = min(max(float(get("areaAlpha")), 0.0),
                                  1.0) if get("areaAlpha") else None
        except ValueError:
            self.area_alpha = None
        self.hide_x_axis = get("hideXAxis") in ("1", "true", "True")
        # graphOnly (cairo.go:1090-1099): bare plot — implies
        # hideLegend/hideGrid/hideAxes/hideYAxis and a full-canvas
        # plot area (the renderers apply the area part)
        # fontSize (picture_params.go:246, default 10): scales every
        # text draw; clamp keeps a request from exploding the raster
        self.font_scale = num("fontSize", 10.0, 4.0, 40.0) / 10.0 \
            * self.pixel_ratio
        # margin (picture_params.go:238, default 10 in cairo): EXTRA
        # padding around the plot area.  Deviation: our default is 0 —
        # the long-standing golden rasters pin the current layout, so
        # margin only adds when explicitly requested.
        self.margin = num("margin", 0, 0, 200, as_int=True)
        # uniqueLegend (picture_params.go:274): drop duplicate series
        # names from the legend
        self.unique_legend = get("uniqueLegend") in ("1", "true", "True")
        # xFormat (picture_params.go:292): explicit strftime pattern
        # for the x-axis labels; length-capped, bad patterns fall back
        self.x_format = get("xFormat")[:64]
        # tz (picture_params.go:259): timezone for x-axis labels; an
        # unknown name silently falls back to UTC
        self.tzinfo = None
        if get("tz"):
            try:
                from zoneinfo import ZoneInfo
                self.tzinfo = ZoneInfo(get("tz").strip())
            except Exception:  # noqa: BLE001
                self.tzinfo = None
        self.graph_only = get("graphOnly") in ("1", "true", "True")
        if self.graph_only:
            self.hide_legend = True
            self.hide_grid = True
            self.hide_axes = True
            self.hide_y_axis = True
        def opt_num(name):
            """Optional float: absent OR malformed/non-finite -> None
            (reference getFloat semantics — garbage never 500s)."""
            raw = get(name)
            if not raw:
                return None
            try:
                v = float(raw)
            except (ValueError, OverflowError):
                return None
            if not math.isfinite(v):
                return None
            return min(max(v, -1e30), 1e30)

        self.y_min = opt_num("yMin")
        self.y_max = opt_num("yMax")
        # xMin/xMax/xStep (picture_params.go:271-273): epoch-second
        # x-window clip + forced x major-tick stride.  DEVIATION,
        # documented in the module docstring: the reference PARSES
        # these into its param struct (cairo.go:431-434,956-958) but
        # never consumes them — `area.xmin` at cairo.go:1576 is an
        # unrelated internal layout coordinate.  Rather than silently
        # ignore a geometry param, we implement the documented
        # graphite-web-style meaning: clip the rendered time window to
        # [xMin, xMax] and draw x ticks every xStep seconds.
        def epoch(name):
            # clamp to a fromtimestamp-representable window (year
            # 1902..2242) — opt_num's ±1e30 envelope overflows time_t
            v = opt_num(name)
            return None if v is None else min(max(v, -(2.0 ** 31)),
                                              2.0 ** 33)

        self.x_min = epoch("xMin")
        self.x_max = epoch("xMax")
        xs = opt_num("xStep")
        self.x_step = xs if xs is not None and xs > 0 else None
        # yStep (cairo.go:1711-1718): override the computed tick step;
        # the y-range then snaps outward to step multiples
        # (yBottom = step*floor(min/step), yTop = step*ceil(max/step))
        try:
            self.y_step = float(get("yStep")) if get("yStep") else None
        except ValueError:
            self.y_step = None
        if self.y_step is not None and (self.y_step <= 0
                                        or not math.isfinite(self.y_step)):
            self.y_step = None
        # minorY (cairo.go:2067-2110): N minor gridlines between each
        # adjacent major pair.  Cairo defaults to 1; we default to 0
        # (documented deviation — the golden rasters pin majors-only)
        try:
            # cap: minorY is request-controlled; uncapped it draws
            # millions of lines per major gap (single-request DoS)
            self.minor_y = min(max(0, int(float(get("minorY", "0")))), 20)
        except (ValueError, OverflowError):  # minorY=inf overflows int()
            self.minor_y = 0
        self.major_grid_color = get("majorGridLineColor")
        self.minor_grid_color = get("minorGridLineColor")

        # dual-axis family (picture_params.go:281-291, consumed by
        # setupTwoYAxes cairo.go:1302-1586): per-side range overrides,
        # per-side tick steps, and the yLimit* hard caps.  All NaN
        # ("unset") by default in the reference; None here.
        def fget(name, positive=False):
            raw = get(name)
            if not raw:
                return None
            try:
                v = float(raw)
            except ValueError:
                return None
            if not math.isfinite(v) or (positive and v <= 0):
                return None
            return v

        self.y_min_left = fget("yMinLeft")
        self.y_min_right = fget("yMinRight")
        self.y_max_left = fget("yMaxLeft")
        self.y_max_right = fget("yMaxRight")
        self.y_limit_left = fget("yLimitLeft")
        self.y_limit_right = fget("yLimitRight")
        self.y_step_left = fget("yStepLeft", positive=True)
        self.y_step_right = fget("yStepRight", positive=True)
        # per-side series style overrides (picture_params.go:293-301,
        # applied cairo.go:939-966): only on explicit request — the
        # decorator/lineWidth defaults stand otherwise
        self.right_width = fget("rightWidth", positive=True)
        self.left_width = fget("leftWidth", positive=True)
        self.right_color = get("rightColor")
        self.left_color = get("leftColor")
        self.right_dashed = get("rightDashed") in ("1", "true", "True")
        self.left_dashed = get("leftDashed") in ("1", "true", "True")
        # yDivisors (picture_params.go:291, default 4,5,6): candidate
        # label counts the step selector scores against the pretty-value
        # ladder (setupYAxis cairo.go:1697-1717).  Capped like minorY —
        # the list length only adds candidates, never ticks.
        self.y_divisors = None
        if get("yDivisors"):
            try:
                ds = [float(x) for x in get("yDivisors").split(",")]
                ds = [d for d in ds if math.isfinite(d) and d > 0]
                self.y_divisors = ds[:16] or None
            except ValueError:
                self.y_divisors = None
        cl = get("colorList")
        self.color_list = cl.split(",") if cl else DEFAULT_COLOR_LIST
        # picture_params.go:335-344: "e" -> e, else float, <1 -> off.
        # (we also treat exactly 1 as off: log base 1 has no scale)
        lb = get("logBase")
        try:
            self.log_base = math.e if lb == "e" else float(lb) if lb else 0.0
        except ValueError:
            self.log_base = 0.0
        if self.log_base <= 1:
            self.log_base = 0.0
        self.draw_null_as_zero = get("drawNullAsZero") in ("1", "true", "True")


def _x_tick_values(gp: GraphParams, t0: float, t1: float) -> list[float]:
    """x major-tick positions: every ``xStep`` seconds when forced,
    else the golden-pinned _nice_ticks ladder.  The forced step is
    count-capped (max ~24 ticks) by raising it to an integer multiple
    — a request-controlled stride must not draw unbounded labels (the
    yStep/minorY tick-DoS lesson, r10)."""
    if not gp.x_step:
        return _nice_ticks(t0, t1, 6)
    step = gp.x_step
    span = max(t1 - t0, 0.0)
    mult = math.ceil(span / (step * 24))
    if mult > 1:
        step *= mult
    first = math.ceil(t0 / step) * step
    out = []
    t = first
    while t <= t1 + 1e-9 * max(span, 1.0):
        out.append(round(t, 10))
        t += step
    return out


def _series_geometry(series, opts_list, gp: GraphParams):
    """Per-series draw specs + global [lo, hi] y-range and time range."""
    specs = []
    lo, hi = math.inf, -math.inf
    t0, t1 = None, None
    # xMin/xMax clip window: points outside it are dropped BEFORE the
    # y-range scan, so the crop re-scales y to the visible data too
    xw_lo, xw_hi = gp.x_min, gp.x_max
    if xw_lo is not None and xw_hi is not None and xw_hi <= xw_lo:
        xw_hi = None  # degenerate/reversed window: keep the lower clip
    # stack by timestamp, not sample index: series may have different
    # start/step after per-target consolidation (the reference stacks by time)
    stacked_base: dict[int, float] = {}
    for i, (s, opts) in enumerate(zip(series, opts_list)):
        color = parse_color(opts.get("color", ""),
                            parse_color(gp.color_list[i % len(gp.color_list)]))
        alpha = float(opts.get("alpha", 1.0))
        lwidth = float(opts.get("lineWidth", gp.line_width))
        infinite = bool(opts.get("drawAsInfinite"))
        stacked = bool(opts.get("stacked")) or gp.area_mode in ("all", "stacked")
        dashed = float(opts.get("dashed", 0.0))
        right = bool(opts.get("secondYAxis"))
        pts = []
        for j, v in enumerate(s.values):
            ts = s.start + j * s.step
            if (xw_lo is not None and ts < xw_lo) or \
                    (xw_hi is not None and ts > xw_hi):
                continue
            if v is None or (isinstance(v, float) and math.isnan(v)):
                if gp.draw_null_as_zero:  # cairo.go:2328
                    v = 0.0
                else:
                    pts.append((ts, None))
                    continue
            base = stacked_base.get((right, ts), 0.0) if stacked else 0.0
            y = v + base
            if stacked:
                stacked_base[(right, ts)] = y
            pts.append((ts, y))
            if not infinite:
                lo, hi = min(lo, y, base), max(hi, y, base)
        specs.append({"name": s.name, "pts": pts, "color": color,
                      "alpha": alpha, "width": lwidth, "infinite": infinite,
                      "stacked": stacked, "dashed": dashed, "step": s.step,
                      "right": right,
                      "filled": stacked or (gp.area_mode == "first"
                                            and i == 0)})
        t0 = s.start if t0 is None else min(t0, s.start)
        t1 = s.stop if t1 is None else max(t1, s.stop)
    if any(sp["right"] for sp in specs):
        # rightWidth/rightColor/rightDashed + left* (cairo.go:939-966):
        # explicit per-side overrides beat the per-series decorators
        for sp in specs:
            side = "right" if sp["right"] else "left"
            w = gp.right_width if side == "right" else gp.left_width
            if w is not None:
                sp["width"] = w
            c = gp.right_color if side == "right" else gp.left_color
            if c:
                sp["color"] = parse_color(c, sp["color"])
            dashed = gp.right_dashed if side == "right" else gp.left_dashed
            if dashed and not sp["dashed"]:
                sp["dashed"] = 2.5
    if not math.isfinite(lo):
        lo, hi = 0.0, 1.0
    if lo == hi:
        lo, hi = lo - 1, hi + 1
    if gp.y_min is not None:
        lo = gp.y_min
    if gp.y_max is not None:
        hi = gp.y_max
    if not (hi > lo):
        # reversed/degenerate yMin/yMax overrides (yMin=5&yMax=5, or a
        # yMin above the data): widen instead of feeding the tick
        # generator a zero/negative span (pre-r11 this 500'd).  The pad
        # is proportional so it survives float granularity at any
        # magnitude.
        hi = lo + max(1.0, abs(lo) * 1e-9)
    t0, t1 = (t0 or 0), (t1 or 1)
    # explicit x window wins over the fetched [from, until) extent
    if xw_lo is not None:
        t0 = xw_lo
    if xw_hi is not None:
        t1 = xw_hi
    if t1 <= t0:
        t1 = t0 + 1
    return specs, lo, hi, t0, t1


def _log_scale(b: float, lo: float, hi: float, py0: float, py1: float):
    """(sy, ticks, (lo_b, hi_b)) for one logarithmic axis: bounds
    snapped to powers of the base (cairo.go:1721-1724), log-relative
    pixel mapping (cairo.go:2223-2228; values <= 0 are unplottable ->
    None, callers treat them as gaps), ticks at powers of the base with
    a stride keeping <= ~9 labels."""
    lo_b = lo if lo > 0 else (hi / b ** 4 if hi > 0 else 1.0 / b ** 4)
    lo_b = b ** math.floor(math.log(lo_b, b))
    hi_b = b ** math.ceil(math.log(max(hi, lo_b * b), b))
    l_lo, l_hi = math.log(lo_b, b), math.log(hi_b, b)

    def sy(v):
        if v is None or v <= 0:
            return None
        rel = (math.log(v, b) - l_lo) / max(l_hi - l_lo, 1e-300)
        return py1 - rel * (py1 - py0)

    n_exp = int(l_hi - l_lo)
    stride = max(1, n_exp // 8)
    ticks = [lo_b * b ** (e * stride) for e in range(n_exp // stride + 1)]
    return sy, ticks, (lo_b, hi_b)


def _y_scale(gp: GraphParams, lo: float, hi: float, py0: float, py1: float):
    """(sy, ticks): pixel mapper + axis tick values, linear or
    logarithmic (:func:`_log_scale`)."""
    if gp.log_base:
        sy, ticks, _ = _log_scale(gp.log_base, lo, hi, py0, py1)
        return sy, ticks

    ticks = list(_nice_ticks(lo, hi))
    if gp.y_divisors and not gp.y_step:
        # explicit yDivisors: reference step selection (the default
        # _nice_ticks ladder stays when the param is absent — the
        # long-standing golden rasters pin it)
        step = _graphite_step(hi - lo if hi > lo else 1.0,
                              gp.y_unit_system, gp.y_divisors)
        lo2 = step * math.floor(lo / step + 1e-9)
        hi2 = step * math.ceil(hi / step - 1e-9)
        if hi2 <= lo2:
            hi2 = lo2 + step
        n = int(round((hi2 - lo2) / step))
        if n <= 1e3:
            lo, hi = lo2, hi2
            ticks = [round(lo + k * step, 10) for k in range(n + 1)]
    if gp.y_step and (hi - lo) / gp.y_step <= 1e3:
        # cairo.go:1717-1718: snap the plotted range outward to yStep
        # multiples and tick at every multiple (floatEpsilon-nudged so
        # an exact-multiple bound doesn't grow an extra step).  A step
        # tiny relative to the range (yStep=1e-6 over [0, 1e12]) would
        # allocate ~1e18 ticks from one request — past ~1e3 ticks the
        # param is ignored and the _nice_ticks fallback stands.
        eps = 1e-9
        step = gp.y_step
        lo = step * math.floor(lo / step + eps)
        hi = step * math.ceil(hi / step - eps)
        if hi <= lo:
            hi = lo + step
        n = int(round((hi - lo) / step))
        ticks = [round(lo + k * step, 10) for k in range(n + 1)]

    def sy(v):
        if v is None:
            return None
        return py1 - (v - lo) / max(hi - lo, 1e-300) * (py1 - py0)

    return sy, ticks


# setupYAxis cairo.go:1697-1717 prettyValues: the step selector scores
# range/divisor quotients against this ladder and keeps the closest
_PRETTY_VALUES = (0.1, 0.2, 0.25, 0.5, 1.0, 1.2, 1.25, 1.5, 2.0, 2.25, 2.5)


def _graphite_step(variance: float, unit_system: str,
                   divisors) -> float:
    """The reference's y-step selection (setupYAxis cairo.go:1680-1717 /
    setupTwoYAxes:1436-1496): scale the range down by its order factor
    (power of 10, or of 2 under yUnitSystem=binary), score
    ``variance / d`` for each candidate divisor against the
    pretty-value ladder, and return the winner scaled back up."""
    if not (math.isfinite(variance) and variance > 0):
        variance = 1.0
    if unit_system == "binary":
        factor = 2.0 ** math.floor(math.log2(variance))
    else:
        factor = 10.0 ** math.floor(math.log10(variance))
    v = variance / factor
    best_p, best_diff = 1.0, math.inf
    for d in divisors:
        q = v / d
        p = min(_PRETTY_VALUES, key=lambda pv: abs(q - pv))
        diff = abs(q - p)
        if diff < best_diff:
            best_p, best_diff = p, diff
    return best_p * factor


def _dual_axis_scales(gp: GraphParams, specs, py0, py1):
    """setupTwoYAxes (cairo.go:1302-1586): independent linear scales for
    the left and right series populations.  Per side: data range →
    yMin/yMax overrides → yLimit cap → step (explicit yStep{L,R} beats
    the divisor selection) → bounds snapped outward to step multiples →
    ticks at every multiple.  Returns ((syL, ticksL, rangeL),
    (syR, ticksR, rangeR)).  logBase renders each side on its own log
    scale via :func:`_log_scale`, with explicit yMin/yMax overrides
    re-asserted AFTER the power-of-base snap, exactly as the reference
    does (setupTwoYAxes has a log branch that snaps both sides' bounds
    to powers and then re-applies the overrides, cairo.go:1506-1528; it
    panics only when a side's minimum is <= 0, cairo.go:1514 — our
    deviation is rendering that degenerate case via _log_scale's
    positive-floor fallback instead of panicking)."""
    divisors = gp.y_divisors or [4.0, 5.0, 6.0]
    out = []
    for right in (False, True):
        lo, hi = math.inf, -math.inf
        for sp in specs:
            if sp["right"] != right or sp["infinite"]:
                continue
            for _, y in sp["pts"]:
                if y is not None:
                    lo, hi = min(lo, y), max(hi, y)
        if not math.isfinite(lo):
            lo, hi = 0.0, 1.0
        y_max = gp.y_max_right if right else gp.y_max_left
        y_min = gp.y_min_right if right else gp.y_min_left
        y_lim = gp.y_limit_right if right else gp.y_limit_left
        y_stp = gp.y_step_right if right else gp.y_step_left
        if y_max is not None:
            hi = y_max
        if y_lim is not None and y_lim < hi:
            hi = y_lim
        if y_min is not None:
            lo = y_min
        if hi <= lo:
            hi = lo + 1
        if gp.log_base:
            sy, ticks, (lo_b, hi_b) = _log_scale(
                gp.log_base, lo, hi, py0, py1)
            # explicit overrides re-assert AFTER the power-of-base
            # snap, same as the linear branch (cairo.go:1517-1528
            # applies yMax/yMin last on the log path too)
            if y_min is not None and y_min > 0:
                lo_b = y_min
            if y_max is not None and y_max > 0:
                hi_b = y_max
            if hi_b <= lo_b:
                # inverted/degenerate overrides get the same defined
                # fallback as the linear branch (top = bottom + step):
                # one decade above the floor, so sy/ticks/range stay
                # mutually consistent instead of mixing a snapped
                # mapper with an inverted reported range
                hi_b = lo_b * gp.log_base
            if y_min is not None or y_max is not None:
                b = gp.log_base
                l_lo = math.log(lo_b, b)
                l_hi = math.log(hi_b, b)

                def sy(v, _l_lo=l_lo, _l_hi=l_hi, _b=b):
                    if v is None or v <= 0:
                        return None
                    rel = (math.log(v, _b) - _l_lo) / \
                        max(_l_hi - _l_lo, 1e-300)
                    return py1 - rel * (py1 - py0)

                ticks = [t for t in ticks
                         if lo_b * (1 - 1e-12) <= t <= hi_b * (1 + 1e-12)]
                if not ticks:
                    ticks = [lo_b, hi_b]
            out.append((sy, ticks, (lo_b, hi_b)))
            continue
        step = y_stp if y_stp is not None else \
            _graphite_step(hi - lo, gp.y_unit_system, divisors)
        if (hi - lo) / step > 1e3:  # same request-DoS clamp as yStep
            step = _graphite_step(hi - lo, gp.y_unit_system, divisors)
        bottom = step * math.floor(lo / step + 1e-9)
        top = step * math.ceil(hi / step - 1e-9)
        # the explicit overrides re-assert AFTER snapping
        # (cairo.go:1517-1528)
        if y_max is not None:
            top = y_max
        if y_min is not None:
            bottom = y_min
        if top <= bottom:
            top = bottom + step
        n = max(1, int(math.ceil((top - bottom) / step - 1e-9)))
        ticks = [round(bottom + k * step, 10) for k in range(n + 1)
                 if bottom + k * step <= top + 1e-9 * step]

        def make_sy(b, t):
            def sy(v):
                if v is None:
                    return None
                return py1 - (v - b) / max(t - b, 1e-300) * (py1 - py0)
            return sy

        out.append((make_sy(bottom, top), ticks, (bottom, top)))
    return out[0], out[1]


def render_png(series, opts_list, params: dict) -> bytes:
    gp = GraphParams(params)
    cv = Canvas(gp.width, gp.height, gp.bgcolor)
    specs, lo, hi, t0, t1 = _series_geometry(series, opts_list, gp)

    dual = any(sp["right"] for sp in specs)
    ml = 1 if gp.hide_axes else (44 + (10 if gp.vtitle else 0))
    # right-axis label gutter; + title column when vtitleRight renders
    mr = (44 + (10 if gp.vtitle_right else 0)) \
        if dual and not gp.hide_axes else 6
    mt = 16 if gp.title else 6
    legend_specs = specs
    if gp.unique_legend:  # picture_params.go:274
        seen: set = set()
        legend_specs = [sp for sp in specs
                        if not (sp["name"] in seen
                                or seen.add(sp["name"]))]
    legend_rows = 0 if gp.hide_legend or gp.width < 200 else \
        min(len(legend_specs), max(1, (gp.height // 5) // 10))
    mb = (1 if gp.hide_axes else 16) + 10 * legend_rows
    # clamp margin against the CANVAS, not just [0,200]: a large margin
    # on a small canvas would invert the plot rect (px0 > px1) and
    # render a mirrored/garbage raster (ADVICE r11)
    m = min(gp.margin, max(0, (gp.width - ml - mr - 1) // 2),
            max(0, (gp.height - mt - mb - 1) // 2))
    px0, px1 = ml + m, gp.width - mr - m
    py0, py1 = mt + m, gp.height - mb - m
    if gp.graph_only:  # cairo.go:1095-1098: plot area = full canvas
        px0, px1, py0, py1 = 0, gp.width, 0, gp.height

    def sx(ts):
        return px0 + (ts - t0) / max(t1 - t0, 1) * (px1 - px0)

    if dual:
        # setupTwoYAxes: independent scales; gridlines follow the LEFT
        # labels (drawGridLines cairo.go:2041-2048)
        (sy, yticks, rng_l), (sy_r, yticks_r, rng_r) = \
            _dual_axis_scales(gp, specs, py0, py1)
    else:
        sy, yticks = _y_scale(gp, lo, hi, py0, py1)
        sy_r, yticks_r, rng_l, rng_r = None, (), (lo, hi), None

    auto_grid = tuple(min(255, c + 60) if sum(gp.bgcolor) < 384
                      else max(0, c - 60) for c in gp.bgcolor)
    grid = parse_color(gp.major_grid_color, auto_grid)
    minor_grid = parse_color(gp.minor_grid_color, auto_grid)
    if not gp.hide_axes:
        for i, v in enumerate(yticks):
            y = sy(v)
            if y is None:
                continue
            if not gp.hide_grid:
                cv.line(px0, y, px1, y, grid, 1.0, 0.5)
                # cairo.go:2067-2110: minorY thinner lines evenly spaced
                # between this major line and the next
                if gp.minor_y >= 1 and i < len(yticks) - 1:
                    dist = (yticks[i + 1] - v) / (1 + gp.minor_y)
                    for m in range(gp.minor_y):
                        ym = sy(v + (1 + m) * dist)
                        if ym is not None:
                            cv.line(px0, ym, px1, ym, minor_grid, 1.0, 0.3)
            if not gp.hide_y_axis:  # hideYAxis: grid stays, labels go
                cv.text(_fmt_val(v, gp.y_unit_system),
                        12 if gp.vtitle else 2, y - 3, gp.fgcolor,
                        0.9 * gp.font_scale)
        if gp.vtitle:
            cv.vtext(gp.vtitle, 2,
                     (py0 + py1 + text_width(gp.vtitle, 0.9)) / 2,
                     gp.fgcolor, 0.9 * gp.font_scale)
        if dual and gp.vtitle_right:
            cv.vtext(gp.vtitle_right, gp.width - 2,
                     (py0 + py1 - text_width(gp.vtitle_right, 0.9)) / 2,
                     gp.fgcolor, 0.9 * gp.font_scale, up=False)
        if dual and not gp.hide_y_axis:
            # right-axis labels in the right gutter (drawYAxis
            # cairo.go:1954-1963), on the right scale
            for v in yticks_r:
                y = sy_r(v)
                if y is not None:
                    cv.text(_fmt_val(v, gp.y_unit_system), px1 + 3, y - 3,
                            gp.fgcolor, 0.9 * gp.font_scale)
        span = t1 - t0
        for ts in _x_tick_values(gp, t0, t1):
            x = sx(ts)
            if not gp.hide_grid:
                cv.line(x, py0, x, py1, grid, 1.0, 0.35)
            if not gp.hide_x_axis:  # drawLabels cairo.go:1933
                cv.text(_fmt_ts(int(ts), span, gp.tzinfo,
                                gp.x_format), x - 14,
                        py1 + 4, gp.fgcolor, 0.9 * gp.font_scale)
        cv.line(px0, py0, px0, py1, gp.fgcolor, 1.0)
        cv.line(px0, py1, px1, py1, gp.fgcolor, 1.0)
        if dual:
            cv.line(px1, py0, px1, py1, gp.fgcolor, 1.0)

    fill_a = gp.area_alpha if gp.area_alpha is not None else 0.35
    for sp in specs:
        ssy = sy_r if (dual and sp["right"]) else sy
        blo, bhi = rng_r if (dual and sp["right"]) else rng_l
        prev = None
        gap = 0
        for k, (ts, y) in enumerate(sp["pts"]):
            if y is None:
                # connected mode bridges runs of up to connectedLimit
                # nulls (cairo.go:2388-2390); slope/staircase restart
                gap += 1
                if gp.line_mode != "connected" or (
                        gp.connected_limit is not None
                        and gap > gp.connected_limit):
                    prev = None
                continue
            x = sx(ts + sp["step"] / 2)
            if sp["infinite"]:
                cv.line(x, py0, x, py1, sp["color"], sp["width"], sp["alpha"])
                continue
            yy = ssy(y)
            if yy is None:  # non-positive value on a log scale
                prev = None
                continue
            gap = 0
            if sp["filled"]:
                base_y = ssy(0.0 if blo <= 0 <= bhi else blo)
                cv.vfill(x, py1 if base_y is None else base_y, yy,
                         sp["color"], fill_a * sp["alpha"])
            if prev is not None:
                if not sp["dashed"] or k % 2 == 0:
                    if gp.line_mode == "staircase":
                        # horizontal at the old level, then vertical
                        # (cairo.go:2378-2383)
                        cv.line(prev[0], prev[1], x, prev[1], sp["color"],
                                sp["width"], sp["alpha"])
                        cv.line(x, prev[1], x, yy, sp["color"],
                                sp["width"], sp["alpha"])
                    else:
                        cv.line(prev[0], prev[1], x, yy, sp["color"],
                                sp["width"], sp["alpha"])
            prev = (x, yy)

    if gp.title:
        cv.text(gp.title, max(2, (gp.width - text_width(gp.title, 1.2)) / 2),
                3, gp.fgcolor, 1.2 * gp.font_scale)
    for r in range(legend_rows):
        sp = legend_specs[r]
        y = py1 + (0 if gp.hide_axes else 14) + 3 + 10 * r
        cv.rect(px0, y + 2, px0 + 8, y + 7, sp["color"])
        label = sp["name"][: max(4, (gp.width - px0 - 16) // 6)]
        cv.text(label, px0 + 12, y, gp.fgcolor,
                0.9 * gp.font_scale)
    return encode_png(cv.a)


def render_svg(series, opts_list, params: dict) -> str:
    gp = GraphParams(params)
    specs, lo, hi, t0, t1 = _series_geometry(series, opts_list, gp)
    dual = any(sp["right"] for sp in specs)
    ml = 44 + (10 if gp.vtitle else 0)
    mr = (44 + (10 if gp.vtitle_right else 0)) if dual else 8
    mt = 20 if gp.title else 8
    legend_specs = specs
    if gp.unique_legend:  # picture_params.go:274
        seen: set = set()
        legend_specs = [sp for sp in specs
                        if not (sp["name"] in seen
                                or seen.add(sp["name"]))]
    legend_rows = 0 if gp.hide_legend else min(len(legend_specs), 8)
    mb = 18 + 12 * legend_rows
    # same non-degenerate clamp as render_png (ADVICE r11)
    m = min(gp.margin, max(0, (gp.width - ml - mr - 1) // 2),
            max(0, (gp.height - mt - mb - 1) // 2))
    px0, px1, py0, py1 = ml + m, gp.width - mr - m, mt + m, \
        gp.height - mb - m
    if gp.graph_only:  # cairo.go:1095-1098: plot area = full canvas
        px0, px1, py0, py1 = 0, gp.width, 0, gp.height

    def sx(ts):
        return px0 + (ts - t0) / max(t1 - t0, 1) * (px1 - px0)

    if dual:
        (sy, yticks, rng_l), (sy_r, yticks_r, rng_r) = \
            _dual_axis_scales(gp, specs, py0, py1)
    else:
        sy, yticks = _y_scale(gp, lo, hi, py0, py1)
        sy_r, yticks_r, rng_l, rng_r = None, (), (lo, hi), None

    fs9 = f"{9 * gp.font_scale:.4g}"
    fs10 = f"{10 * gp.font_scale:.4g}"
    fs12 = f"{12 * gp.font_scale:.4g}"

    def rgb(c):
        return f"rgb({c[0]},{c[1]},{c[2]})"

    def esc(s):
        return (s.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;").replace('"', "&quot;"))

    o = [f'<svg xmlns="http://www.w3.org/2000/svg" width="{gp.width}" '
         f'height="{gp.height}" viewBox="0 0 {gp.width} {gp.height}">',
         f'<rect width="100%" height="100%" fill="{rgb(gp.bgcolor)}"/>']
    fg = rgb(gp.fgcolor)
    if not gp.hide_axes:
        for i, v in enumerate(yticks):
            y = sy(v)
            if y is None:
                continue
            # hideGrid gates major AND minor gridlines — same as the
            # PNG path (labels and the axis frame stay)
            if not gp.hide_grid:
                o.append(f'<line x1="{px0}" y1="{y:.1f}" x2="{px1}" '
                         f'y2="{y:.1f}" stroke="{fg}" '
                         f'stroke-opacity="0.25"/>')
                if gp.minor_y >= 1 and i < len(yticks) - 1:
                    dist = (yticks[i + 1] - v) / (1 + gp.minor_y)
                    for m in range(gp.minor_y):
                        ym = sy(v + (1 + m) * dist)
                        if ym is None:
                            continue
                        o.append(f'<line x1="{px0}" y1="{ym:.1f}" '
                                 f'x2="{px1}" y2="{ym:.1f}" stroke="{fg}" '
                                 f'stroke-opacity="0.12"/>')
            if not gp.hide_y_axis:
                o.append(f'<text x="{12 if gp.vtitle else 2}" '
                         f'y="{y + 3:.1f}" fill="{fg}" '
                         f'font-size="{fs9}" font-family="sans-serif">'
                         f'{_fmt_val(v, gp.y_unit_system)}</text>')
        if dual and not gp.hide_y_axis:
            for v in yticks_r:
                y = sy_r(v)
                if y is None:
                    continue
                o.append(f'<text x="{px1 + 3}" y="{y + 3:.1f}" fill="{fg}" '
                         f'font-size="{fs9}" font-family="sans-serif">'
                         f'{_fmt_val(v, gp.y_unit_system)}</text>')
        span = t1 - t0
        if not gp.hide_x_axis:  # drawLabels cairo.go:1933
            for ts in _x_tick_values(gp, t0, t1):
                x = sx(ts)
                o.append(f'<text x="{x - 14:.1f}" y="{py1 + 12}" '
                         f'fill="{fg}" font-size="{fs9}" '
                         f'font-family="sans-serif">'
                         f'{_fmt_ts(int(ts), span, gp.tzinfo, gp.x_format)}'
                         f'</text>')
        o.append(f'<path d="M{px0} {py0}V{py1}H{px1}" fill="none" '
                 f'stroke="{fg}"/>')
        if dual:
            o.append(f'<path d="M{px1} {py0}V{py1}" fill="none" '
                     f'stroke="{fg}"/>')
        if gp.vtitle:
            cy = (py0 + py1) / 2
            o.append(f'<text x="10" y="{cy:.1f}" fill="{fg}" '
                     f'font-size="{fs10}" text-anchor="middle" '
                     f'font-family="sans-serif" '
                     f'transform="rotate(-90 10 {cy:.1f})">'
                     f'{esc(gp.vtitle)}</text>')
        if dual and gp.vtitle_right:
            cy = (py0 + py1) / 2
            rx = gp.width - 6
            o.append(f'<text x="{rx}" y="{cy:.1f}" fill="{fg}" '
                     f'font-size="{fs10}" text-anchor="middle" '
                     f'font-family="sans-serif" '
                     f'transform="rotate(90 {rx} {cy:.1f})">'
                     f'{esc(gp.vtitle_right)}</text>')
    fill_a = gp.area_alpha if gp.area_alpha is not None else 0.35
    for sp in specs:
        ssy = sy_r if (dual and sp["right"]) else sy
        blo, bhi = rng_r if (dual and sp["right"]) else rng_l
        segs, cur, gap = [], [], 0
        for ts, y in sp["pts"]:
            yy = ssy(y)
            if yy is None:  # gap, or non-positive value on a log scale
                # connected mode bridges runs of up to connectedLimit
                # nulls (cairo.go:2388-2390); slope/staircase restart
                gap += 1
                bridge = (y is None and gp.line_mode == "connected"
                          and (gp.connected_limit is None
                               or gap <= gp.connected_limit))
                if not bridge:
                    if cur:
                        segs.append(cur)
                    cur = []
                continue
            gap = 0
            x = sx(ts + sp["step"] / 2)
            if sp["infinite"]:
                o.append(f'<line x1="{x:.1f}" y1="{py0}" x2="{x:.1f}" '
                         f'y2="{py1}" stroke="{rgb(sp["color"])}" '
                         f'stroke-width="{sp["width"]}" '
                         f'stroke-opacity="{sp["alpha"]}"/>')
                continue
            cur.append((x, yy))
        if cur:
            segs.append(cur)
        dash = f' stroke-dasharray="{sp["dashed"]},{sp["dashed"]}"' \
            if sp["dashed"] else ""
        for seg in segs:
            if gp.line_mode == "staircase" and len(seg) > 1:
                # horizontal at the old level, then vertical
                # (cairo.go:2378-2383)
                parts = [f"M{seg[0][0]:.1f} {seg[0][1]:.1f}"]
                for (_, ya), (xb, yb) in zip(seg, seg[1:]):
                    parts.append(f"L{xb:.1f} {ya:.1f}")
                    parts.append(f"L{xb:.1f} {yb:.1f}")
                d = " ".join(parts)
            else:
                d = "M" + " L".join(f"{x:.1f} {y:.1f}" for x, y in seg)
            fill = "none"
            if sp["filled"]:
                base_y = ssy(0.0 if blo <= 0 <= bhi else blo)
                if base_y is None:
                    base_y = py1
                d += f" L{seg[-1][0]:.1f} {base_y:.1f} " \
                     f"L{seg[0][0]:.1f} {base_y:.1f} Z"
                fill = rgb(sp["color"])
            o.append(f'<path d="{d}" fill="{fill}" '
                     f'fill-opacity="{fill_a}" '
                     f'stroke="{rgb(sp["color"])}" '
                     f'stroke-width="{sp["width"]}" '
                     f'stroke-opacity="{sp["alpha"]}"{dash}/>')
    if gp.title:
        o.append(f'<text x="{gp.width / 2}" y="14" fill="{fg}" font-size="{fs12}" '
                 f'text-anchor="middle" font-family="sans-serif">'
                 f'{esc(gp.title)}</text>')
    for r in range(legend_rows):
        sp = legend_specs[r]
        y = py1 + 24 + 12 * r
        o.append(f'<rect x="{px0}" y="{y - 8}" width="9" height="9" '
                 f'fill="{rgb(sp["color"])}"/>')
        o.append(f'<text x="{px0 + 13}" y="{y}" fill="{fg}" font-size="{fs9}" '
                 f'font-family="sans-serif">{esc(sp["name"])}</text>')
    o.append("</svg>")
    return "\n".join(o)
