"""Arrow-vectorized Spark UDF wrappers for the extraction kernels.

All kernels run as pandas UDFs (Arrow batch transfer — the
input_hint mandates no per-row Python UDFs). The fat ``html`` column
is selected as late as possible by callers and batch sizes are kept
small (session.py) so batches of near-20MB pages fit in memory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import schemas
from ..functions.sniff import detect_content_type, detect_series
from ..functions.urlnorm import canonicalize_series, host_series
from .kernels import extract_links, visible_text


@pandas_udf(T.ArrayType(schemas.EXTRACTED_LINK))
def extract_links_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """Kernel U1: page → array<struct<dest_url, keywords>> (nested form).

    NOTE: Arrow conversion of nested list<struct<..list<struct>>>
    results is ~7x slower than the kernel itself; the round driver
    uses extract_links_flat below (all-scalar columns) instead. This
    nested form is kept for ad-hoc/API use."""
    return pd.Series(
        [
            extract_links(u, h) if (h is not None and u is not None) else []
            for u, h in zip(url, html)
        ]
    )


class _LinkRows:
    """The flat U1 link/keyword columns of one batch, emitted page by
    page: one row per (link, keyword), and one row with null
    kw_idx/visibility/text for a link with no keywords. ``idx`` holds
    each row's input row, for the take of the carried columns."""

    COLUMNS = ("pos", "dest_url", "kw_idx", "visibility", "text")

    def __init__(self):
        self.idx: list[int] = []
        self.pos: list[int] = []
        self.dest_url: list[str] = []
        self.kw_idx: list[int | None] = []
        self.visibility: list[int | None] = []
        self.text: list[str | None] = []

    def emit(self, i: int, url: str, html: bytes) -> None:
        """Append the rows of input row ``i``'s page."""
        idx, poss, dests = self.idx, self.pos, self.dest_url
        kwis, viss, texts = self.kw_idx, self.visibility, self.text
        for pos, lnk in enumerate(extract_links(url, html)):
            dest = lnk["dest_url"]
            kws = lnk["keywords"] or [None]
            for ki, kw in enumerate(kws):
                idx.append(i)
                poss.append(pos)
                dests.append(dest)
                if kw is None:
                    kwis.append(None)
                    viss.append(None)
                    texts.append(None)
                else:
                    kwis.append(ki)
                    viss.append(kw["visibility"])
                    texts.append(kw["text"])

    def columns(self) -> dict:
        return {n: getattr(self, n) for n in self.COLUMNS}


def extract_links_flat(
    df, url_col: str = "url_norm", html_col: str = "html", sniff_gate: bool = False
):
    """Kernel U1, flat form: one output row per (link, keyword).

    Emits all-scalar columns so Arrow transfer is fully vectorized
    (no python-loop struct building). Links with zero keywords emit
    one row with null kw_idx/visibility/text. All non-html input
    columns are carried through unchanged.

    Downstream (shuffle-free) projections:
      links    = flat.filter(kw_idx.isNull() | (kw_idx == 0))
      keywords = flat.filter(kw_idx.isNotNull())

    sniff_gate=True applies the html-only gate (P5: sniffed
    text/html*, html.go:162-167) INSIDE this kernel. Chaining a
    separate pandas-UDF sniff filter in front of mapInPandas forces a
    second JVM↔Python Arrow hop over the fat html column — measured
    ~7x slower than gating in-kernel.
    """
    carry = [f for f in df.schema.fields if f.name not in (html_col,)]
    out_schema = T.StructType(
        list(carry)
        + [
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("dest_url", T.StringType(), False),
            T.StructField("kw_idx", T.IntegerType(), True),
            T.StructField("visibility", T.IntegerType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    carry_names = [f.name for f in carry]
    out_names = [f.name for f in out_schema.fields]

    # Emission is take-based (r6): the per-output-row python work is
    # ONE index append plus the five link fields; the carried input
    # columns are attached afterwards with one vectorized numpy
    # fancy-index per column instead of len(carry) list appends per
    # output row (~30x fan-out per page makes those appends a
    # measurable slice of the kernel wall).
    def gen(batches):
        for pdf in batches:
            urls = pdf[url_col].tolist()
            htmls = pdf[html_col].tolist()
            links = _LinkRows()
            for i, (u, h) in enumerate(zip(urls, htmls)):
                if h is None or u is None:
                    continue
                if sniff_gate and not detect_content_type(h).startswith("text/html"):
                    continue
                links.emit(i, u, h)
            take = np.asarray(links.idx, dtype=np.intp)
            cols = {n: pdf[n].to_numpy()[take] for n in carry_names}
            cols.update(links.columns())
            yield pd.DataFrame(cols, columns=out_names)

    return df.mapInPandas(gen, out_schema)


def extract_with_meta(df, url_col: str = "url_norm", html_col: str = "html",
                      gate_col: str = "gate"):
    """U1 + the per-page meta columns (U4 sniff, F8/F9 digests, P3
    size) in ONE pass over the fat rows (r6).

    The round driver previously paid two full corpus scans per round
    for these: one JVM scan computing sniff/sha1/sha512/size (the
    ``meta`` frame) and one Python scan running link extraction —
    ~13-19s of decode CPU per scan at bench scale. This kernel emits
    BOTH from a single scan: for every input row one ``kind=0`` meta
    row (content_type, sha1, sha512, size — hashlib digests and the
    Python sniff are byte-identical to the JVM ``unhex(sha1(html))``
    / ``unhex(sha2(html,512))`` / ``sniff_col`` expressions, parity
    pinned by tests), and for rows passing the html gate (P5 sniff —
    computed once and reused — plus P6's case-sensitive suffix skip)
    the U1 flat link/keyword rows (``kind=1``) with the exact
    extract_links_flat semantics. All non-html input columns are
    carried through on every output row.
    """
    import hashlib

    carry = [f for f in df.schema.fields if f.name not in (html_col,)]
    out_schema = T.StructType(
        list(carry)
        + [
            T.StructField("kind", T.IntegerType(), False),
            T.StructField("content_type", T.StringType(), True),
            T.StructField("sha1", T.BinaryType(), True),
            T.StructField("sha512", T.BinaryType(), True),
            T.StructField("size", T.IntegerType(), True),
            T.StructField("pos", T.IntegerType(), True),
            T.StructField("dest_url", T.StringType(), True),
            T.StructField("kw_idx", T.IntegerType(), True),
            T.StructField("visibility", T.IntegerType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    carry_names = [f.name for f in carry]
    out_names = [f.name for f in out_schema.fields]
    meta_cols = ("content_type", "sha1", "sha512", "size")

    # Take-based emission (r6, same construction as extract_links_flat
    # above): the kind=0 meta rows and kind=1 link rows are built as
    # two separate column blocks — per output row only the block's own
    # fields are appended in python, the carried input columns are
    # attached with one vectorized numpy fancy-index per column, and
    # the opposite block's fields are nulled wholesale. Downstream
    # consumers filter on ``kind``, so block order (all meta rows of a
    # batch, then its link rows) is irrelevant.
    def gen(batches):
        for pdf in batches:
            urls = pdf[url_col].tolist()
            htmls = pdf[html_col].tolist()
            gates = pdf[gate_col].tolist() if gate_col in pdf else ["ok"] * len(urls)

            m_idx: list[int] = []
            m_ct: list[str] = []
            m_sha1: list[bytes] = []
            m_sha512: list[bytes] = []
            m_size: list[int] = []
            links = _LinkRows()

            for i, (u, h) in enumerate(zip(urls, htmls)):
                if h is None or u is None:
                    continue
                ct = detect_content_type(h)
                m_idx.append(i)
                m_ct.append(ct)
                m_sha1.append(hashlib.sha1(h).digest())
                m_sha512.append(hashlib.sha512(h).digest())
                m_size.append(len(h))
                if (
                    gates[i] != "ok"
                    or u.endswith((".jpeg", ".png", ".jpg"))
                    or not ct.startswith("text/html")
                ):
                    continue
                links.emit(i, u, h)

            carry_np = {n: pdf[n].to_numpy() for n in carry_names}
            if m_idx:
                take = np.asarray(m_idx, dtype=np.intp)
                cols = {n: carry_np[n][take] for n in carry_names}
                cols.update(
                    kind=0, content_type=m_ct, sha1=m_sha1,
                    sha512=m_sha512, size=m_size,
                )
                cols.update({n: None for n in _LinkRows.COLUMNS})
                yield pd.DataFrame(cols, columns=out_names)
            if links.idx:
                take = np.asarray(links.idx, dtype=np.intp)
                cols = {n: carry_np[n][take] for n in carry_names}
                cols["kind"] = 1
                cols.update({n: None for n in meta_cols})
                cols.update(links.columns())
                yield pd.DataFrame(cols, columns=out_names)

    return df.mapInPandas(gen, out_schema)


@pandas_udf(T.StringType())
def visible_text_udf(html: pd.Series) -> pd.Series:
    """Kernel U2: page html → byte-identical visible text."""
    return pd.Series([visible_text(h) if h is not None else "" for h in html])


@pandas_udf(T.StringType())
def sniff_udf(html: pd.Series) -> pd.Series:
    """Kernel U4: WHATWG content-type sniff of the first 512 bytes."""
    return detect_series(html)


@pandas_udf(T.StringType())
def canonicalize_udf(url: pd.Series) -> pd.Series:
    """Kernel U3: Go url.Parse→String round-trip canonical form."""
    return canonicalize_series(url)


@pandas_udf(T.StringType())
def host_udf(url: pd.Series) -> pd.Series:
    """Go url.Hostname() (port stripped)."""
    return host_series(url)
