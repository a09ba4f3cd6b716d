"""Per-page orchestration + page geometry (rotation normalization).

Mirrors crates/pdfplumber/src/pdf.rs:491-672 (page build) and
crates/pdfplumber-parse/src/page_geometry.rs (rotation pipeline:
MediaBox offset -> clockwise rotation -> y-flip).
"""

from __future__ import annotations

from ..config import ExtractOptions, TableSettings, TextOptions, WordOptions
from .chars import chars_from_events
from .layout import extract_text_from_words
from .shapes import derive_edges, extract_shapes
from .tables import find_tables
from .textnorm import apply_bidi_directions, dedupe_chars, normalize_chars
from .words import extract_words


class PageGeometry:
    """media_box = (x0, y_min, x1, y_max) in raw PDF coords."""

    def __init__(self, media_box: tuple, rotation: int) -> None:
        self.rotation = rotation % 360
        self.media_x0 = media_box[0]
        self.media_y0 = media_box[1]
        self.native_width = media_box[2] - media_box[0]
        self.native_height = media_box[3] - media_box[1]
        if self.rotation in (90, 270):
            self.display_width = abs(self.native_height)
            self.display_height = abs(self.native_width)
        else:
            self.display_width = abs(self.native_width)
            self.display_height = abs(self.native_height)

    def normalize_point(self, x: float, y: float) -> tuple[float, float]:
        px = x - self.media_x0
        py = y - self.media_y0
        r = self.rotation
        if r == 90:
            rx, ry = py, self.native_width - px
        elif r == 180:
            rx, ry = self.native_width - px, self.native_height - py
        elif r == 270:
            rx, ry = self.native_height - py, px
        else:
            rx, ry = px, py
        return rx, self.display_height - ry

    def normalize_bbox(self, min_x, min_y, max_x, max_y) -> tuple:
        x0, y0 = self.normalize_point(min_x, min_y)
        x1, y1 = self.normalize_point(max_x, max_y)
        return (min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1))


_ROT_DIR = {
    90: {"ltr": "ttb", "rtl": "btt", "ttb": "rtl", "btt": "ltr"},
    180: {"ltr": "rtl", "rtl": "ltr", "ttb": "btt", "btt": "ttb"},
    270: {"ltr": "btt", "rtl": "ttb", "ttb": "ltr", "btt": "rtl"},
}


def _rotate_bbox(obj: dict, page_height: float, geom: PageGeometry) -> None:
    native_min_y = page_height - obj["bottom"]
    native_max_y = page_height - obj["top"]
    x0, top, x1, bottom = geom.normalize_bbox(obj["x0"], native_min_y, obj["x1"], native_max_y)
    obj["x0"], obj["top"], obj["x1"], obj["bottom"] = x0, top, x1, bottom


def _classify(obj: dict) -> str:
    dx = abs(obj["x1"] - obj["x0"])
    dy = abs(obj["bottom"] - obj["top"])
    if dy < 1e-6:
        return "h"
    if dx < 1e-6:
        return "v"
    return "d"


class Page:
    """One extracted page: chars/lines/rects/curves/edges + derived APIs."""

    def __init__(self, page_number: int, width: float, height: float,
                 rotation: int, chars: list[dict], lines: list[dict],
                 rects: list[dict], curves: list[dict], images: list[dict],
                 warnings: list[str]) -> None:
        self.page_number = page_number  # 1-based like pdfplumber
        self.width = width
        self.height = height
        self.rotation = rotation
        self.chars = chars
        self.lines = lines
        self.rects = rects
        self.curves = curves
        self.images = images
        self.warnings = warnings
        self._annotations: list[dict] | None = []
        self._hyperlinks: list[dict] | None = []
        self._extras_thunk = None  # () -> (annotations, hyperlinks), lazy
        # positional numpy columns aligned with self.chars (or None);
        # set by build_page, consumed by extract_words — derived data,
        # never required (crop/filter paths leave it None)
        self._char_cols = None

    def _load_extras(self) -> None:
        self._annotations, self._hyperlinks = self._extras_thunk()
        # both results are cached now: drop the thunk, which holds the
        # whole Document (xref, streams, caches) alive
        self._extras_thunk = None

    @property
    def annotations(self) -> list[dict]:
        if self._annotations is None:
            self._load_extras()
        return self._annotations

    @annotations.setter
    def annotations(self, v: list[dict]) -> None:
        self._annotations = v

    @property
    def hyperlinks(self) -> list[dict]:
        if self._hyperlinks is None:
            self._load_extras()
        return self._hyperlinks

    @hyperlinks.setter
    def hyperlinks(self, v: list[dict]) -> None:
        self._hyperlinks = v

    def edges(self) -> list[dict]:
        return derive_edges(self.lines, self.rects, self.curves)

    def extract_words(self, options: WordOptions | None = None) -> list[dict]:
        return extract_words(self.chars, options, cols=self._char_cols)

    def search(self, pattern: str, regex: bool = True, case: bool = True) -> list[dict]:
        """P6: regex/literal search over the page's char stream
        (search.rs:59-145)."""
        from .docextras import search_chars

        return search_chars(self.chars, pattern, regex, case)

    def extract_text(self, options: TextOptions | None = None,
                     word_options: WordOptions | None = None) -> str:
        words = self.extract_words(word_options)
        return extract_text_from_words(words, options)

    def find_tables(self, settings: TableSettings | None = None,
                    word_options: WordOptions | None = None) -> list[dict]:
        # cell text uses the default word options (oracle semantics —
        # rotation is already baked into the char coordinates)
        from ..config import TableSettings as _TS

        wopt = word_options or WordOptions()
        # words feed ONLY the stream strategy (words_to_edges_v/h);
        # lattice/explicit never read them — skip the second word
        # extraction (it was ~40% of text-page kernel time)
        st = settings or _TS()
        words = self.extract_words(word_options) if st.strategy == "stream" else []
        return find_tables(self.edges(), words, self.chars, settings, wopt)

    def extract_tables(self, settings: TableSettings | None = None) -> list[list[list[str | None]]]:
        """Rows-of-cell-text form, matching golden JSON shape
        (scripts/generate_golden.py:84-104)."""
        return [
            [[c["text"] for c in row] for row in t["rows"]]
            for t in self.find_tables(settings)
        ]

    # -- spatial filters (P4: cropped_page.rs:251-334) ----------------------

    def _filter_objs(self, objs: list[dict], bbox: tuple, mode: str,
                     rebase: bool) -> list[dict]:
        x0, top, x1, bottom = bbox
        out = []
        for o in objs:
            if mode == "center":
                cx = (o["x0"] + o["x1"]) / 2.0
                cy = (o["top"] + o["bottom"]) / 2.0
                keep = x0 <= cx <= x1 and top <= cy <= bottom
            elif mode == "within":
                keep = (
                    o["x0"] >= x0 and o["x1"] <= x1
                    and o["top"] >= top and o["bottom"] <= bottom
                )
            else:  # outside: no overlap
                keep = (
                    o["x1"] < x0 or o["x0"] > x1
                    or o["bottom"] < top or o["top"] > bottom
                )
            if keep:
                if rebase and mode != "outside":
                    o = dict(o)
                    o["x0"] -= x0
                    o["x1"] -= x0
                    o["top"] -= top
                    o["bottom"] -= top
                    if "doctop" in o:
                        o["doctop"] = o["top"]
                out.append(o)
        return out

    def crop(self, bbox: tuple) -> "Page":
        """Center-in-bbox filter with coordinates re-based to crop origin."""
        return Page(
            self.page_number, bbox[2] - bbox[0], bbox[3] - bbox[1], self.rotation,
            self._filter_objs(self.chars, bbox, "center", True),
            self._filter_objs(self.lines, bbox, "center", True),
            self._filter_objs(self.rects, bbox, "center", True),
            self._filter_objs(self.curves, bbox, "center", True),
            self.images, self.warnings,
        )

    def within_bbox(self, bbox: tuple) -> "Page":
        return Page(
            self.page_number, bbox[2] - bbox[0], bbox[3] - bbox[1], self.rotation,
            self._filter_objs(self.chars, bbox, "within", True),
            self._filter_objs(self.lines, bbox, "within", True),
            self._filter_objs(self.rects, bbox, "within", True),
            self._filter_objs(self.curves, bbox, "within", True),
            self.images, self.warnings,
        )

    def outside_bbox(self, bbox: tuple) -> "Page":
        return Page(
            self.page_number, self.width, self.height, self.rotation,
            self._filter_objs(self.chars, bbox, "outside", False),
            self._filter_objs(self.lines, bbox, "outside", False),
            self._filter_objs(self.rects, bbox, "outside", False),
            self._filter_objs(self.curves, bbox, "outside", False),
            self.images, self.warnings,
        )


def build_page(page_number: int, geom: PageGeometry, raw_page_height: float,
               char_events: list, painted_paths: list, image_events: list,
               options: ExtractOptions, warnings: list[str]) -> Page:
    """CharRuns/paths -> Page with normalized coordinates."""
    needs_rotation = geom.rotation != 0

    chars, char_cols = chars_from_events(char_events, raw_page_height,
                                         want_cols=True)
    if needs_rotation:
        char_cols = None  # positions mutate below; columns go stale
        rot = geom.rotation
        for ch in chars:
            _rotate_bbox(ch, raw_page_height, geom)
            ch["doctop"] = ch["top"]
            ch["direction"] = _ROT_DIR[rot].get(ch["direction"], ch["direction"])
            if rot in (90, 270):
                ch["upright"] = not ch["upright"]
            # size tracks the device-space bbox (rotation included)
            ch["size"] = (
                ch["x1"] - ch["x0"] if ch["_wmode"] else ch["bottom"] - ch["top"]
            )
    for ch in chars:
        del ch["_wmode"]

    chars = apply_bidi_directions(chars, 3.0)  # mutates direction only
    if options.unicode_norm is not None:
        chars = normalize_chars(chars, options.unicode_norm)  # text only
    if options.dedupe is not None:
        n_before = len(chars)
        chars = dedupe_chars(chars, options.dedupe.tolerance,
                             options.dedupe.extra_attrs, cols=char_cols)
        if len(chars) != n_before:
            # dedupe dropped chars: the positional columns no longer
            # align with the list (dedupe only ever removes, so equal
            # length ⇔ nothing removed)
            char_cols = None

    all_lines: list[dict] = []
    all_rects: list[dict] = []
    all_curves: list[dict] = []
    for painted in painted_paths:
        lines, rects, curves = extract_shapes(painted, raw_page_height)
        all_lines.extend(lines)
        all_rects.extend(rects)
        all_curves.extend(curves)
    if needs_rotation:
        for o in all_lines:
            _rotate_bbox(o, raw_page_height, geom)
            o["orientation"] = _classify(o)
        for o in all_rects + all_curves:
            _rotate_bbox(o, raw_page_height, geom)
            if "pts" in o:
                o["pts"] = [
                    geom.normalize_bbox(px, raw_page_height - py, px, raw_page_height - py)[:2]
                    for (px, py) in o["pts"]
                ]

    images: list[dict] = []
    n_inline = 0
    for ev in image_events:
        # bbox = CTM unit-square transform (images.rs:71)
        a, b, c, d, e, f = ev.ctm
        xs = [e, a + e, c + e, a + c + e]
        ys = [f, b + f, d + f, b + d + f]
        x0, x1 = min(xs), max(xs)
        top = raw_page_height - max(ys)
        bottom = raw_page_height - min(ys)
        data = None
        if ev.inline and getattr(ev, "data", None):
            # S9 image content (pdf.rs:397-405): decode the inline
            # payload through the named filter chain
            from .filters import _DECODERS

            data = ev.data
            f = _DECODERS.get(ev.filter)
            if f is not None:
                try:
                    data = f(data)
                except Exception:  # noqa: BLE001 — keep raw on failure
                    pass
        if ev.inline:
            # inline images get a synthetic counter name (images.rs:
            # inline-N convention, matched by real_world_integration.rs)
            name = f"inline-{n_inline}"
            n_inline += 1
        else:
            name = ev.name
        img = {"name": name,
               "x0": x0, "top": top, "x1": x1, "bottom": bottom,
               "src_width": ev.src_width, "src_height": ev.src_height,
               "colorspace": ev.colorspace, "filter": ev.filter,
               "bits_per_component": ev.bits,
               "inline": ev.inline, "data": data}
        if needs_rotation:
            _rotate_bbox(img, raw_page_height, geom)
        images.append(img)

    page = Page(
        page_number, geom.display_width, geom.display_height, geom.rotation,
        chars, all_lines, all_rects, all_curves, images, warnings,
    )
    page._char_cols = char_cols
    return page
