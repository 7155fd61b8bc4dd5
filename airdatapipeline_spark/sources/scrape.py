"""SRC1 — the web-scrape source, Spark-first.

The reference drives headless Chromium over g1.globo.com and unions 8 CSS
selectors into a row list (/root/reference/scripts/scraper.py:18-195). A
scrape is inherently a driver/edge-side collector: the Spark-idiomatic
boundary is (rows out of the scraper) → `io.local_table(spark, rows, schema)`
→ landing-zone files; at scale the scraper fleet writes files that a
Structured Streaming file source (streaming/events.py pattern) ingests.

`Scraper` is pluggable; `FakeScraper` generates deterministic rows with the
same shape and dirt profile (dup links, short titles, relative URLs) so the
full DAG-1 chain (scrape → clean → CSV land → bronze overwrite) is testable
offline — mirroring the reference's own offline test-mode strategy.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

from ..io import local_table
from ..schemas import BRONZE_SCHEMA


class Scraper(Protocol):
    def scrape(self) -> list[dict]: ...


@dataclass
class FakeScraper:
    """Deterministic offline scraper: n rows with ~10% duplicate links,
    short titles and relative/invalid URLs, exercising P2/P3/D1/D2."""

    n_rows: int = 100
    base_time: str = "2025-08-01T08:00:00"

    def scrape(self) -> list[dict]:
        return self.scrape_range(0, self.n_rows)

    def scrape_range(self, lo: int, hi: int) -> list[dict]:
        """Rows with doc_id in [lo, hi) — each row is a pure function of its
        index, so a range is generated directly in O(hi - lo) (the streaming
        DataSource reads one batch-sized range per micro-batch; scanning
        from zero and filtering would make a drain quadratic)."""
        base = datetime.fromisoformat(self.base_time)
        rows = []
        for i in range(lo, hi):
            link_id = i - 1 if i % 10 == 9 else i
            if i % 11 == 0:
                link = f"ftp://invalid.example/{link_id}"
            elif i % 7 == 0:
                link = f"/noticia/{link_id}"
            else:
                link = f"https://g1.globo.com/noticia/{link_id}"
            title = (
                f"curta {i}"
                if i % 13 == 0
                else f"Notícia de teste número {i} com título suficientemente longo"
            )
            rows.append(
                {
                    "doc_id": i,
                    "title": title,
                    "link": link,
                    "source": "G1",
                    "scraped_at": base + timedelta(days=i % 10),
                }
            )
        return rows


# The reference's selector union (scripts/scraper.py:73-83): a primary
# attribute selector plus feed/headline classes and tag-qualified variants.
# These are site-contract data, shared verbatim by necessity.
G1_SELECTORS: tuple[str, ...] = (
    "[data-mrf-layout-title]",
    ".feed-post-body-title",
    ".bstn-hl-title",
    "h2[data-mrf-layout-title]",
    "h3[data-mrf-layout-title]",
    "span[data-mrf-layout-title]",
    "p[data-mrf-layout-title]",
    ".gui-color-primary[data-mrf-layout-title]",
)

MIN_TITLE_LEN = 15  # scripts/scraper.py:106 — quality floor on headline text
BASE_URL = "https://g1.globo.com"


class PageElement(Protocol):
    """The slice of a DOM element the extractor needs."""

    def inner_text(self) -> str | None: ...
    def closest_anchor_href(self) -> str | None: ...
    def child_anchor_href(self) -> str | None: ...
    def parent_data_link(self) -> str | None: ...


class BrowserPage(Protocol):
    """The slice of a browser page the extractor needs. A real backend wraps
    playwright's Page; tests provide a deterministic fake."""

    def scroll_to_bottom(self) -> None: ...
    def query_selector_all(self, selector: str) -> list[PageElement]: ...


def resolve_href(el: PageElement) -> str | None:
    """Three-tier link resolution mirroring scripts/scraper.py:112-146:
    nearest enclosing <a>, then a child <a>, then the parent's
    data-mrf-link attribute. Each tier is best-effort."""
    for tier in (el.closest_anchor_href, el.child_anchor_href, el.parent_data_link):
        try:
            href = tier()
        except Exception:
            href = None
        if href:
            return href
    return None


def normalize_url(href: str) -> str | None:
    """scripts/scraper.py:149-153: root-relative paths get the site prefix;
    anything else must already be absolute http(s) or is dropped."""
    if href.startswith("/"):
        return f"{BASE_URL}{href}"
    if href.startswith("http"):
        return href
    return None


def extract_headlines(
    page: BrowserPage,
    *,
    selectors: tuple[str, ...] = G1_SELECTORS,
    scroll_attempts: int = 6,
    now: datetime | None = None,
) -> list[dict]:
    """Pure extraction pass over an open page — the entire post-launch
    behavior of scripts/scraper.py:57-170: scroll to force lazy content,
    union the selector hits in order, then per element apply the quality
    floor, title dedup, 3-tier href resolution, URL normalization and
    link dedup. Deterministic given a deterministic page + clock."""
    now = now or datetime.now()
    for _ in range(scroll_attempts):
        page.scroll_to_bottom()

    elements: list[PageElement] = []
    for selector in selectors:
        try:
            elements.extend(page.query_selector_all(selector))
        except Exception:
            continue

    rows: list[dict] = []
    seen_links: set[str] = set()
    seen_titles: set[str] = set()
    for el in elements:
        try:
            title = (el.inner_text() or "").strip()
        except Exception:
            continue
        if len(title) < MIN_TITLE_LEN or title in seen_titles:
            continue
        href = resolve_href(el)
        if not href:
            continue
        link = normalize_url(href)
        if not link or link in seen_links:
            continue
        seen_links.add(link)
        seen_titles.add(title)
        rows.append({"title": title, "link": link, "source": "G1", "scraped_at": now})
    return rows


@dataclass
class PlaywrightScraper:
    """Real browser scraper, gated on the environment (same pattern as the
    multimodal decoders): when playwright is importable, `_open_page`
    actually launches headless Chromium, loads the page, and serves the
    rendered DOM (scripts/scraper.py:38-56); when it is absent — as in
    this container, verified — the declared stub message fires. All
    page-parsing behavior lives in `extract_headlines` (tested offline
    against a fake page and live over HTTP via sources/scrape_http.py's
    HtmlPage, which exercises the identical selector/link-tier contract
    through a real transport)."""

    url: str = BASE_URL
    scroll_attempts: int = 6

    def _open_page(self) -> BrowserPage:
        import importlib.util

        if importlib.util.find_spec("playwright") is None:
            raise NotImplementedError(
                "STUB: needs playwright + headless chromium. Implement _open_page "
                "to return a BrowserPage over a loaded document; extraction logic "
                "is already provided by extract_headlines()."
            )
        return _open_playwright_page(self.url)

    def scrape(self) -> list[dict]:
        return extract_headlines(self._open_page(), scroll_attempts=self.scroll_attempts)


def _open_playwright_page(url: str) -> BrowserPage:
    """Playwright-backed BrowserPage (runs only where playwright exists;
    exercised by a skipped-unless-present test). The element adapter
    resolves links exactly like scripts/scraper.py:112-146: closest('a'),
    querySelector('a'), parent [data-mrf-link] — via DOM evaluation so the
    semantics match the reference's, not an approximation."""
    from playwright.sync_api import sync_playwright

    pw = sync_playwright().start()
    browser = pw.chromium.launch(headless=True)
    page = browser.new_page()
    page.goto(url, wait_until="domcontentloaded")

    class _PwElement:
        def __init__(self, handle):
            self._h = handle

        def inner_text(self):
            return self._h.inner_text()

        def closest_anchor_href(self):
            return self._h.evaluate("el => el.closest('a')?.href ?? null")

        def child_anchor_href(self):
            return self._h.evaluate("el => el.querySelector('a')?.href ?? null")

        def parent_data_link(self):
            return self._h.evaluate(
                "el => el.closest('[data-mrf-link]')?.getAttribute('data-mrf-link') ?? null"
            )

    class _PwPage:
        def scroll_to_bottom(self):
            page.evaluate("window.scrollTo(0, document.body.scrollHeight)")
            page.wait_for_timeout(500)

        def query_selector_all(self, selector):
            return [_PwElement(h) for h in page.query_selector_all(selector)]

    return _PwPage()


def scrape_to_dataframe(spark: SparkSession, scraper: Scraper | None = None) -> DataFrame:
    """Driver-side collect → distributed DataFrame with the explicit Bronze
    schema (never inferred). Rows without a doc_id (the real scraper emits
    none — the reference gets one from Postgres SERIAL, i.e. insert order)
    get their collection order as the id."""
    scraper = scraper or FakeScraper()
    rows = [
        row if "doc_id" in row else {**row, "doc_id": i}
        for i, row in enumerate(scraper.scrape())
    ]
    return local_table(spark, rows, BRONZE_SCHEMA)
