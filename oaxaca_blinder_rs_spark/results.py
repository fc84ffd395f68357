"""Result model: typed driver-side structs mirroring the reference.

Reference: /root/reference/oaxaca_blinder/src/types.rs:24-180 and display.rs.
Results are k-sized — they live on the driver; only the residual column stays
distributed (exposed as a DataFrame for scale, collected lazily on demand).
"""

from __future__ import annotations

import json
import math
from dataclasses import asdict, dataclass, field


# -- dependency-free SVG chart (plot() fallback when matplotlib is absent) ----
# Palette: diverging blue/red poles for signed bars on a light surface, ink
# colors for text, recessive grid — validated (lightness band, chroma floor,
# CVD separation 21.6, normal-vision 32.3, contrast >= 3:1 on #fcfcfb).
_SVG_SURFACE = "#fcfcfb"
_SVG_POS = "#2a78d6"  # positive bars (cool pole)
_SVG_NEG = "#e34948"  # negative bars (warm pole)
_SVG_INK = "#0b0b0b"
_SVG_INK2 = "#52514e"
_SVG_GRID = "#f0efec"
_SVG_FONT = "system-ui, -apple-system, 'Segoe UI', Helvetica, Arial, sans-serif"


class SvgFigure:
    """Minimal figure object wrapping rendered SVG markup."""

    def __init__(self, svg: str):
        self.svg = svg

    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(self.svg)

    def _repr_svg_(self) -> str:  # notebook inline display
        return self.svg


def _nice_ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    if hi <= lo:
        hi = lo + 1.0
    raw = (hi - lo) / max(n, 1)
    mag = 10.0 ** math.floor(math.log10(raw))
    step = next(s * mag for s in (1.0, 2.0, 2.5, 5.0, 10.0) if s * mag >= raw)
    first = math.ceil(lo / step) * step
    out = []
    t = first
    while t <= hi + 1e-9 * step:
        out.append(round(t, 10))
        t += step
    return out


def _fmt(v: float) -> str:
    if v != v:
        return "nan"
    a = abs(v)
    if a >= 1e6 or (a > 0 and a < 1e-3):
        return f"{v:.2e}"
    return f"{v:,.4g}" if a >= 1 else f"{v:.4f}".rstrip("0").rstrip(".")


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def render_svg_bars(data: dict, title: str, width: int = 640, height: int = 400) -> SvgFigure:
    """Signed bar chart with CI whiskers as standalone SVG.

    Marks follow the house chart spec: bars rounded 4px at the DATA end and
    flat at the zero baseline, color by sign (position already encodes sign,
    so color is redundant, not load-bearing), whiskers + values in secondary
    ink, recessive grid, per-bar <title> for native hover tooltips.
    """
    labels = [str(x) for x in data["labels"]]
    est = [float(v) for v in data["estimates"]]
    lo = [float(v) for v in data["ci_lower"]]
    hi = [float(v) for v in data["ci_upper"]]
    n = max(len(labels), 1)
    finite = [v for vs in (est, lo, hi) for v in vs if v == v and abs(v) != math.inf]
    vmin = min([0.0] + finite)
    vmax = max([0.0] + finite)
    pad = 0.06 * (vmax - vmin or 1.0)
    vmin, vmax = vmin - pad, vmax + pad
    ml, mr, mt, mb = 78, 20, 52, 56
    pw, ph = width - ml - mr, height - mt - mb

    def ty(v: float) -> float:  # value -> y pixel
        return mt + ph * (vmax - v) / (vmax - vmin)

    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}" '
        f'viewBox="0 0 {width} {height}" role="img" aria-label="{_esc(title)}">',
        f'<rect width="{width}" height="{height}" fill="{_SVG_SURFACE}"/>',
        f'<text x="{ml}" y="28" font-family="{_SVG_FONT}" font-size="15" '
        f'font-weight="600" fill="{_SVG_INK}">{_esc(title)}</text>',
    ]
    for t in _nice_ticks(vmin, vmax):
        y = ty(t)
        parts.append(f'<line x1="{ml}" y1="{y:.1f}" x2="{ml + pw}" y2="{y:.1f}" stroke="{_SVG_GRID}" stroke-width="1"/>')
        parts.append(
            f'<text x="{ml - 8}" y="{y + 4:.1f}" text-anchor="end" font-family="{_SVG_FONT}" '
            f'font-size="11" fill="{_SVG_INK2}">{_fmt(t)}</text>'
        )
    y0 = ty(0.0)
    parts.append(f'<line x1="{ml}" y1="{y0:.1f}" x2="{ml + pw}" y2="{y0:.1f}" stroke="{_SVG_INK2}" stroke-width="1"/>')

    slot = pw / n
    bw = min(48.0, slot * 0.6)
    r = min(4.0, bw / 2)
    for i, (name, e, l_, h_) in enumerate(zip(labels, est, lo, hi)):
        if e != e:
            continue
        cx = ml + slot * (i + 0.5)
        x = cx - bw / 2
        fill = _SVG_POS if e >= 0 else _SVG_NEG
        yv, yb = ty(e), y0
        top, bot = min(yv, yb), max(yv, yb)
        bh = max(bot - top, 0.5)
        rr = min(r, bh)
        if e >= 0:  # rounded at the top (data end), flat at baseline
            d = (f"M{x:.1f},{bot:.1f} V{top + rr:.1f} Q{x:.1f},{top:.1f} {x + rr:.1f},{top:.1f} "
                 f"H{x + bw - rr:.1f} Q{x + bw:.1f},{top:.1f} {x + bw:.1f},{top + rr:.1f} V{bot:.1f} Z")
        else:  # rounded at the bottom
            d = (f"M{x:.1f},{top:.1f} V{bot - rr:.1f} Q{x:.1f},{bot:.1f} {x + rr:.1f},{bot:.1f} "
                 f"H{x + bw - rr:.1f} Q{x + bw:.1f},{bot:.1f} {x + bw:.1f},{bot - rr:.1f} V{top:.1f} Z")
        tip = f"{name}: {_fmt(e)}" + (f"  [{_fmt(l_)}, {_fmt(h_)}]" if l_ == l_ and h_ == h_ else "")
        parts.append(f'<path d="{d}" fill="{fill}"><title>{_esc(tip)}</title></path>')
        if l_ == l_ and h_ == h_ and (h_ - l_) > 0:  # CI whisker + caps
            parts.append(
                f'<line x1="{cx:.1f}" y1="{ty(l_):.1f}" x2="{cx:.1f}" y2="{ty(h_):.1f}" '
                f'stroke="{_SVG_INK2}" stroke-width="1.5"/>'
            )
            for vv in (l_, h_):
                parts.append(
                    f'<line x1="{cx - 4:.1f}" y1="{ty(vv):.1f}" x2="{cx + 4:.1f}" y2="{ty(vv):.1f}" '
                    f'stroke="{_SVG_INK2}" stroke-width="1.5"/>'
                )
        # value label clears both the bar end and the whisker tip
        if e >= 0:
            vy = min(top, ty(h_) if h_ == h_ else top) - 6
        else:
            vy = max(bot, ty(l_) if l_ == l_ else bot) + 14
        parts.append(
            f'<text x="{cx:.1f}" y="{vy:.1f}" text-anchor="middle" font-family="{_SVG_FONT}" '
            f'font-size="11" fill="{_SVG_INK2}">{_fmt(e)}</text>'
        )
        parts.append(
            f'<text x="{cx:.1f}" y="{height - mb + 20}" text-anchor="middle" font-family="{_SVG_FONT}" '
            f'font-size="12" fill="{_SVG_INK}">{_esc(name)}</text>'
        )
    parts.append("</svg>")
    return SvgFigure("\n".join(parts))


@dataclass
class ComponentResult:
    """types.rs:172-180."""

    name: str
    estimate: float
    std_err: float = math.nan
    t_stat: float = math.nan
    p_value: float = math.nan
    ci_lower: float = math.nan
    ci_upper: float = math.nan


@dataclass
class TwoFoldResults:
    """types.rs:49-62."""

    aggregate: list[ComponentResult]
    detailed_explained: list[ComponentResult]
    detailed_unexplained: list[ComponentResult]
    detailed_selection: list[ComponentResult] = field(default_factory=list)

    def _find(self, comps, name):
        for c in comps:
            if c.name == name:
                return c
        return None

    @property
    def explained(self) -> ComponentResult:
        return self._find(self.aggregate, "explained")

    @property
    def unexplained(self) -> ComponentResult:
        return self._find(self.aggregate, "unexplained")


@dataclass
class DecompositionDetail:
    aggregate: list[ComponentResult]
    detailed: list[ComponentResult] = field(default_factory=list)


@dataclass
class BudgetAdjustment:
    """types.rs:44-53: row addressed by index (here: stable row_id)."""

    index: int
    original_residual: float
    adjustment: float


@dataclass
class OaxacaResults:
    """types.rs:24-47; `residuals` are group-B residuals (builder.rs:938)."""

    total_gap: float
    two_fold: TwoFoldResults
    three_fold: DecompositionDetail
    n_a: int
    n_b: int
    residuals: list[float]
    xa_mean: list[float]
    xb_mean: list[float]
    beta_star: list[float]
    predictor_names: list[str] = field(default_factory=list)
    # row_id (stable id) parallel to residuals, Spark-specific addition so
    # adjustments address durable ids rather than positions (SURVEY §7.5 r1).
    residual_row_ids: list[int] = field(default_factory=list)
    # bootstrap replicates that failed and were left out of the standard errors
    n_failed_reps: int = 0

    # -- lazy distributed residuals (Spark-specific scale design) -------------
    def attach_residuals(self, residuals_df, supplier) -> None:
        """Wire the distributed residual frame + a guarded collect thunk.

        ``residuals_df`` is a DataFrame(row_id, residual) — or a zero-arg
        factory returning one: the builder passes a factory so the plan's
        py4j construction cost (~0.15 s of driver chatter) is paid only when
        residuals are actually requested, not on every fit. It never touches
        the driver unless `ensure_residuals()` is called (and n_b is small).
        """
        object.__setattr__(self, "_residuals_df_src", residuals_df)
        object.__setattr__(self, "_residual_supplier", supplier)

    @property
    def residuals_df(self):
        src = getattr(self, "_residuals_df_src", None)
        if callable(src):
            src = src()
            object.__setattr__(self, "_residuals_df_src", src)
        return src

    def ensure_residuals(self) -> None:
        if not self.residuals and getattr(self, "_residual_supplier", None) is not None:
            ids, vals = self._residual_supplier()
            self.residual_row_ids[:] = ids
            self.residuals[:] = vals

    # -- M18: budget optimizer (types.rs:98-156) ------------------------------
    def optimize_budget(self, budget: float, target_gap: float) -> list[BudgetAdjustment]:
        current_gap = self.total_gap
        if current_gap <= target_gap:
            return []
        self.ensure_residuals()
        required_reduction = current_gap - target_gap
        total_needed = required_reduction * float(self.n_b)
        effective_budget = min(budget, total_needed)
        candidates = [
            (i, r) for i, r in enumerate(self.residuals) if r < 0.0
        ]
        candidates.sort(key=lambda t: t[1])
        adjustments: list[BudgetAdjustment] = []
        spent = 0.0
        for index, residual in candidates:
            if spent >= effective_budget:
                break
            max_raise = -residual
            remaining = effective_budget - spent
            raise_amt = max_raise if max_raise <= remaining else remaining
            if raise_amt > 1e-9:
                row_id = self.residual_row_ids[index] if self.residual_row_ids else index
                adjustments.append(
                    BudgetAdjustment(index=row_id, original_residual=residual, adjustment=raise_amt)
                )
                spent += raise_amt
        return adjustments

    # -- K1: console sink (display.rs:7-80) -----------------------------------
    def summary(self) -> str:
        lines = [
            "Oaxaca-Blinder Decomposition Results",
            "========================================",
            f"Group A (Advantaged): {self.n_a} observations",
            f"Group B (Reference):  {self.n_b} observations",
            f"Total Gap: {self.total_gap:.4f}",
            "",
            "Two-Fold Decomposition",
            _table(self.two_fold.aggregate, "Component"),
            "",
            "Detailed Decomposition (Explained)",
            _table(self.two_fold.detailed_explained, "Variable"),
            "",
            "Detailed Decomposition (Unexplained)",
            _table(self.two_fold.detailed_unexplained, "Variable"),
        ]
        if self.two_fold.detailed_selection:
            lines += ["", "Detailed Decomposition (Selection)",
                      _table(self.two_fold.detailed_selection, "Variable")]
        out = "\n".join(lines)
        print(out)
        return out

    # -- K2: JSON sink (display.rs:134-138) -----------------------------------
    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, default=_json_default)

    # -- K3: Markdown sink (display.rs:113-132) -------------------------------
    def to_markdown(self) -> str:
        md = "### Oaxaca-Blinder Decomposition Results\n\n"
        md += "| Component | Estimate | Std. Err. | p-value | 95% CI |\n"
        md += "|---|---|---|---|---|\n"
        for c in self.two_fold.aggregate:
            md += (
                f"| {c.name} | {c.estimate:.4f} | {c.std_err:.4f} | {c.p_value:.4f} "
                f"| [{c.ci_lower:.3f}, {c.ci_upper:.3f}] |\n"
            )
        return md

    # -- K4: LaTeX sink (display.rs:83-111) -----------------------------------
    def to_latex(self) -> str:
        out = [
            "\\begin{table}[ht]",
            "\\centering",
            "\\begin{tabular}{lcccc}",
            "\\hline",
            "Component & Estimate & Std. Err. & p-value & 95\\% CI \\\\",
            "\\hline",
            "\\multicolumn{5}{l}{\\textit{Two-Fold Decomposition}} \\\\",
        ]
        for c in self.two_fold.aggregate:
            out.append(
                f"{c.name} & {c.estimate:.4f} & {c.std_err:.4f} & {c.p_value:.4f} "
                f"& [{c.ci_lower:.3f}, {c.ci_upper:.3f}] \\\\"
            )
        out += [
            "\\hline",
            "\\end{tabular}",
            "\\caption{Oaxaca-Blinder Decomposition Results}",
            "\\label{tab:oaxaca_results}",
            "\\end{table}",
        ]
        return "\n".join(out) + "\n"

    # -- python.rs:126-158 plot(kind) ------------------------------------------
    def plot_data(self, kind: str = "two_fold") -> dict:
        """Chart-ready data for the python binding's plot(kind) surface.

        The container ships no matplotlib, so this returns the exact series a
        plotting frontend needs; `plot()` renders if matplotlib is available.
        """
        if kind == "two_fold":
            comps = self.two_fold.aggregate
        elif kind == "detailed_explained":
            comps = self.two_fold.detailed_explained
        elif kind == "detailed_unexplained":
            comps = self.two_fold.detailed_unexplained
        elif kind == "three_fold":
            comps = self.three_fold.aggregate
        else:
            raise ValueError(f"unknown plot kind: {kind}")
        return {
            "labels": [c.name for c in comps],
            "estimates": [c.estimate for c in comps],
            "ci_lower": [c.ci_lower for c in comps],
            "ci_upper": [c.ci_upper for c in comps],
        }

    def plot(self, kind: str = "two_fold"):
        """Render the decomposition chart (reference python.rs:126-158).

        With matplotlib installed this returns a matplotlib Figure (the
        reference's surface); without it, a dependency-free ``SvgFigure``
        rendering the same series as a signed bar chart with bootstrap CI
        whiskers — ``.svg`` holds the markup, ``.save(path)`` writes it, and
        notebooks display it inline via ``_repr_svg_``.
        """
        data = self.plot_data(kind)
        try:
            import matplotlib.pyplot as plt  # noqa: F401
        except ImportError:
            return render_svg_bars(data, title=f"Oaxaca-Blinder decomposition ({kind})")
        fig, ax = plt.subplots()
        x = range(len(data["labels"]))
        err = [
            [e - lo for e, lo in zip(data["estimates"], data["ci_lower"])],
            [hi - e for e, hi in zip(data["estimates"], data["ci_upper"])],
        ]
        ax.bar(x, data["estimates"], yerr=err, capsize=4)
        ax.set_xticks(list(x))
        ax.set_xticklabels(data["labels"], rotation=30, ha="right")
        ax.set_title(f"Oaxaca-Blinder decomposition ({kind})")
        return fig

    # -- python.rs:159-186 interpret() ---------------------------------------
    def interpret(self) -> str:
        exp = self.two_fold.explained
        unexp = self.two_fold.unexplained
        pct = lambda v: (v / self.total_gap * 100.0) if self.total_gap else math.nan
        return (
            f"The total gap between Group A and Group B is {self.total_gap:.4f}. "
            f"Of this, {exp.estimate:.4f} ({pct(exp.estimate):.1f}%) is explained by "
            f"differences in observable characteristics, while {unexp.estimate:.4f} "
            f"({pct(unexp.estimate):.1f}%) remains unexplained (attributable to "
            f"differences in returns to those characteristics)."
        )


def _table(components: list[ComponentResult], label: str) -> str:
    header = [label, "Estimate", "Std. Err.", "p-value", "95% CI"]
    rows = [
        [
            c.name,
            f"{c.estimate:.4f}",
            f"{c.std_err:.4f}",
            f"{c.p_value:.4f}",
            f"[{c.ci_lower:.3f}, {c.ci_upper:.3f}]",
        ]
        for c in components
    ]
    widths = [max(len(header[i]), *(len(r[i]) for r in rows)) if rows else len(header[i]) for i in range(5)]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep, "| " + " | ".join(h.ljust(w) for h, w in zip(header, widths)) + " |", sep]
    for r in rows:
        out.append("| " + " | ".join(v.ljust(w) for v, w in zip(r, widths)) + " |")
    out.append(sep)
    return "\n".join(out)


def _json_default(o):
    if isinstance(o, float) and (math.isnan(o) or math.isinf(o)):
        return None
    raise TypeError(f"not JSON serializable: {type(o)}")
