"""Extraction kernels: title, main content, asset discovery, link
rewrite, HTML→markdown.

Reimplements the observable semantics of
/root/reference/html_processor.py as pure functions over strings.
These run inside Arrow-batched pandas UDFs on executors (never
per-row Python at the Spark level) and inside the sequential oracle.

Production dependencies bs4 + html2text are attempted first (the
reference's exact libraries, so output is byte-identical where they
are installed); this sandbox lacks them, so a stdlib DOM
(htmldom.py) + a deterministic html2text-compatible converter are the
fallback. Both paths are behind the same function signatures.
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import urljoin, urlparse

from ..config import HOMEPAGE_TITLE, UNTITLED_FILENAME, EngineConfig
from . import htmldom
from .paths import page_dir

try:  # pragma: no cover - not available in sandbox
    import bs4  # type: ignore  # noqa: F401

    _HAVE_BS4 = True
except ImportError:
    _HAVE_BS4 = False

try:  # pragma: no cover - not available in sandbox
    import html2text  # type: ignore  # noqa: F401

    _HAVE_HTML2TEXT = True
except ImportError:
    _HAVE_HTML2TEXT = False


def _parse(html: str):
    if _HAVE_BS4:  # pragma: no cover
        return bs4.BeautifulSoup(html, "html.parser")
    return htmldom.parse(html)


# --- Asset discovery (html_processor.py:21-70) ---

def find_assets(html_content: str | None, original_page_url: str, config: EngineConfig) -> dict[str, list[str]]:
    """Same-domain js/css/img asset URLs, absolute, deduped.

    The reference emits Python-set order (nondeterministic,
    html_processor.py:70); the spec canonicalizes to sorted order
    (SURVEY.md §2.3 A2) and the oracle does the same.
    """
    if not html_content:
        return {"js": [], "css": [], "img": []}
    try:
        soup = _parse(html_content)
    except Exception:
        return {"js": [], "css": [], "img": []}
    return find_assets_in_soup(soup, original_page_url, config)


def find_assets_in_soup(soup, original_page_url: str, config: EngineConfig) -> dict[str, list[str]]:
    """find_assets over an already-parsed page (the fused page pass
    parses each page once and hands the same soup to every scan)."""
    found: dict[str, set[str]] = {"js": set(), "css": set(), "img": set()}
    target_domain = config.target_domain or urlparse(original_page_url).netloc
    try:
        for tag in soup.find_all("script", src=True):
            src = tag["src"]
            if src:
                abs_url = urljoin(original_page_url, src)
                if urlparse(abs_url).netloc == target_domain:
                    found["js"].add(abs_url)
        for tag in soup.find_all("link", rel="stylesheet", href=True):
            href = tag["href"]
            if href:
                abs_url = urljoin(original_page_url, href)
                if urlparse(abs_url).netloc == target_domain:
                    found["css"].add(abs_url)
        for tag in soup.find_all("img", src=True):
            src = tag["src"]
            if src and not src.startswith("data:"):
                abs_url = urljoin(original_page_url, src)
                if urlparse(abs_url).netloc == target_domain:
                    found["img"].add(abs_url)
        if config.include_srcset:
            # responsive-image variants (the reference's TODO,
            # html_processor.py:63): every srcset candidate is an
            # image asset, same F7/F8 gating as img@src
            for tag in soup.find_all(["img", "source"], srcset=True):
                for cand in parse_srcset(tag.get("srcset")):
                    if cand.startswith("data:"):
                        continue
                    abs_url = urljoin(original_page_url, cand)
                    if urlparse(abs_url).netloc == target_domain:
                        found["img"].add(abs_url)
    except Exception:
        pass  # return whatever was found (html_processor.py:65-67)
    return {k: sorted(v) for k, v in found.items()}


def links_from_soup(soup, page_url: str, max_links: int) -> list[str]:
    """Frontier-expansion links of a parsed page: absolute http(s)
    <a href> targets without fragment, deduped, the first
    ``max_links`` in sorted order. A malformed tree yields no links."""
    seen: set[str] = set()
    try:
        for a in soup.find_all("a", href=True):
            href = a["href"]
            if not href or href.startswith(("#", "mailto:", "javascript:")):
                continue
            absu = urljoin(page_url, href).split("#", 1)[0]
            if urlparse(absu).scheme in ("http", "https"):
                seen.add(absu)
    except Exception:
        return []
    return sorted(seen)[:max_links]


# --- Title extraction (html_processor.py:74-100) ---

def extract_fields_from_soup(soup, original_url: str, selectors) -> tuple[str, str | None, bool]:
    """Epoch-time extract over a parsed page: (title, selected content
    area HTML, markdown-success probe). Neither lookup mutates the
    soup, so asset/caption/link scans may read it afterwards. Raises
    on a malformed tree; callers map that to (None, None, False)."""
    title = extract_title_from_soup(soup, original_url)
    content = find_main_content(soup, selectors)
    content_str = str(content) if content is not None else None
    # provisional success probe (main.py:155): the later link-rewrite
    # only alters attribute values, which cannot change markdown
    # emptiness, so this equals the reference's post-rewrite check
    md_ok = bool(html_to_markdown(content_str)) if content_str else False
    return title, content_str, md_ok


def extract_title_from_soup(soup, original_url: str) -> str:
    title_tag = soup.find("title")
    title = title_tag.string.strip() if title_tag is not None and title_tag.string else None
    if not title:
        h1_tag = soup.find("h1")
        title = h1_tag.string.strip() if h1_tag is not None and h1_tag.string else None
    if not title:
        title = url_fallback_title(original_url)
    return title


def url_fallback_title(original_url: str) -> str:
    """URL-derived fallback (html_processor.py:84-98): last path
    segment, '-'/'_' -> space, FIRST char only uppercased
    (html_processor.py:94 — not initcap); empty path -> 'Homepage'."""
    parsed = urlparse(original_url)
    path_part = parsed.path.strip("/")
    if path_part:
        title = path_part.split("/")[-1]
        title = title.replace("-", " ").replace("_", " ")
        if title:
            title = title[0].upper() + title[1:]
        else:
            title = UNTITLED_FILENAME
        return title
    return HOMEPAGE_TITLE


# --- Main content selection (html_processor.py:102-119) ---

def find_main_content(soup, selectors) -> object | None:
    for selector in selectors:
        content = soup.select_one(selector)
        if content:
            return content
    return None


# --- Link rewrite (html_processor.py:121-173) ---

_SRCSET_WS = " \t\n\r\x0c"


def _srcset_tokens(value: str | None) -> list[tuple[list[str], str]]:
    """THE srcset tokenizer (single source of truth for collection AND
    rewrite — two inline splitters would drift). Yields
    (candidate_parts, url) per candidate, where candidate_parts is
    [url, descriptor, ...] and url is '' when the candidate has no
    usable url.

    This is the WHATWG 'parse a srcset attribute' candidate scan
    (replacing the old comma-followed-by-whitespace regex, which lost
    the spec-legal 'a.jpg ,b.jpg' form):
    - a url is a maximal non-whitespace run; TRAILING commas terminate
      the candidate and are stripped (so 'a.jpg, b.jpg' and
      'data:...;base64,AAA, b.jpg' both split correctly — data-URI
      commas are mid-token and stay attached);
    - a url not ending in a comma is followed by whitespace-separated
      descriptors until a comma OUTSIDE parentheses (the spec's
      paren state for future descriptor syntax);
    - a comma BEFORE the url position ('a.jpg ,b.jpg') is a
      candidate separator and is skipped.
    Per the same spec, a bare un-spaced comma INSIDE a token
    ('a.jpg,b.jpg') is part of the url — one candidate with url
    'a.jpg,b.jpg', exactly what browsers parse."""
    if not value:
        return []
    out: list[tuple[list[str], str]] = []
    i, n = 0, len(value)
    while i < n:
        while i < n and (value[i] in _SRCSET_WS or value[i] == ","):
            i += 1
        if i >= n:
            break
        start = i
        while i < n and value[i] not in _SRCSET_WS:
            i += 1
        url = value[start:i]
        if url.endswith(","):
            url = url.rstrip(",")
            parts = [url] if url else []
        else:
            parts = [url]
            in_parens = False
            while i < n:
                while i < n and value[i] in _SRCSET_WS:
                    i += 1
                if i >= n or (value[i] == "," and not in_parens):
                    break
                dstart = i
                while i < n:
                    c = value[i]
                    if in_parens:
                        if c == ")":
                            in_parens = False
                        i += 1
                    elif c == "(":
                        in_parens = True
                        i += 1
                    elif c == "," or c in _SRCSET_WS:
                        break
                    else:
                        i += 1
                parts.append(value[dstart:i])
        if parts:
            out.append((parts, parts[0]))
    return out


def parse_srcset(value: str | None) -> list[str]:
    """Candidate URLs of a srcset attribute, in document order.
    Each candidate is '<url> [<descriptor>]'; see _srcset_tokens for
    the splitting rules."""
    return [url for _, url in _srcset_tokens(value) if url]


def _rewrite_srcset_value(value: str, original_url: str, page_save_dir: str, saved_assets_map: dict[str, str]) -> str | None:
    """Rebuild a srcset string with saved candidate urls swapped for
    their local relative paths, descriptors preserved. Returns None
    when NO candidate resolves in the map — callers leave the
    attribute byte-untouched (no whitespace normalization of srcsets
    the engine is not rewriting). NB a url saved because it ALSO
    appears as img@src is in the map, so this pass must only run when
    the config collects srcset (rewrite_asset_links gates it on
    include_srcset) — otherwise pages with src/srcset-aliased urls
    would have their srcset rewritten despite the feature being off."""
    changed = False
    rebuilt = []
    for parts, url in _srcset_tokens(value):
        if url:
            abs_url = urljoin(original_url, url)
            if abs_url in saved_assets_map:
                try:
                    rel = posixpath.relpath(
                        saved_assets_map[abs_url], start=page_save_dir
                    )
                    parts = [rel] + parts[1:]
                    changed = True
                except ValueError:
                    pass
        if parts:
            rebuilt.append(" ".join(parts))
    return ", ".join(rebuilt) if changed else None


def rewrite_asset_links(
    content_soup,
    original_url: str,
    page_save_dir: str,
    saved_assets_map: dict[str, str],
    include_srcset: bool = False,
):
    """Rewrite script@src / link@href / img@src — and, when
    ``include_srcset`` (the config flag that also gates srcset
    COLLECTION), srcset candidate urls — to paths relative to the page
    dir for assets present in saved_assets_map; others untouched.
    The srcset pass must be flag-gated, not map-driven: a url saved
    via img@src can alias a srcset candidate, and with the feature off
    that srcset must pass through byte-identical."""
    if not page_save_dir or not saved_assets_map:
        return content_soup
    if include_srcset:
        for tag in content_soup.find_all(["img", "source"], srcset=True):
            new_val = _rewrite_srcset_value(
                tag.get("srcset"), original_url, page_save_dir, saved_assets_map
            )
            if new_val is not None:  # None = no saved candidate, leave bytes alone
                tag["srcset"] = new_val
    for tag in content_soup.find_all(["script", "link", "img"]):
        attr = None
        if tag.name == "script" and tag.has_attr("src"):
            attr = "src"
        elif tag.name == "link" and tag.has_attr("href"):
            attr = "href"
        elif tag.name == "img" and tag.has_attr("src"):
            attr = "src"
        if attr and tag.get(attr):
            abs_asset_url = urljoin(original_url, tag[attr])
            if abs_asset_url in saved_assets_map:
                local = saved_assets_map[abs_asset_url]
                try:
                    rel = posixpath.relpath(local, start=page_save_dir)
                    tag[attr] = rel
                except ValueError:
                    pass
    return content_soup


# --- HTML -> Markdown (html_processor.py:175-194) ---

def html_to_markdown(html_string: str | None) -> str | None:
    """html2text with ignore_links=False, ignore_images=False,
    body_width=0 (html_processor.py:181-184). Empty/whitespace result
    -> None. Falls back to the built-in converter when html2text is
    absent; the oracle uses the same code path, so engine-vs-oracle
    equality holds either way."""
    if not html_string:
        return None
    try:
        if _HAVE_HTML2TEXT:  # pragma: no cover
            h = html2text.HTML2Text()
            h.ignore_links = False
            h.ignore_images = False
            h.body_width = 0
            md = h.handle(html_string)
        else:
            md = _fallback_markdown(html_string)
        if not md or md.isspace():
            return None
        return md
    except Exception:
        return None


_HEADING = {f"h{i}": "#" * i for i in range(1, 7)}
_SKIP_TAGS = {"script", "style", "head", "title", "meta", "link"}


def _fallback_markdown(html_string: str) -> str:
    """Deterministic html2text-compatible subset: headings, paragraphs,
    bold/italic, links, images, ul/ol lists, code, blockquote, hr, br.
    Matches html2text conventions ('  * ' bullets, '**'/'_' emphasis,
    reference-style output disabled, no wrapping)."""
    root = htmldom.parse(html_string)
    out: list[str] = []

    def collapse(text: str) -> str:
        return re.sub(r"\s+", " ", text)

    def inline(node) -> str:
        parts: list[str] = []
        for c in node.children:
            if isinstance(c, str):
                parts.append(collapse(c))
                continue
            name = c.name
            if name in _SKIP_TAGS:
                continue
            if name in ("strong", "b"):
                inner = inline(c).strip()
                if inner:
                    parts.append(f"**{inner}**")
            elif name in ("em", "i"):
                inner = inline(c).strip()
                if inner:
                    parts.append(f"_{inner}_")
            elif name == "code":
                parts.append(f"`{c.get_text()}`")
            elif name == "a":
                href = c.get("href", "")
                inner = inline(c).strip()
                parts.append(f"[{inner}]({href})" if href else inner)
            elif name == "img":
                alt = c.get("alt", "")
                src = c.get("src", "")
                parts.append(f"![{alt}]({src})")
            elif name == "br":
                parts.append("  \n")
            else:
                parts.append(inline(c))
        return "".join(parts)

    def block(node, depth: int = 0) -> None:
        for c in node.children:
            if isinstance(c, str):
                t = collapse(c).strip()
                if t:
                    out.append(t + "\n\n")
                continue
            name = c.name
            if name in _SKIP_TAGS:
                continue
            if name in _HEADING:
                text = inline(c).strip()
                out.append(f"{_HEADING[name]} {text}\n\n")
            elif name == "p":
                text = inline(c).strip()
                if text:
                    out.append(text + "\n\n")
            elif name in ("ul", "ol"):
                idx = 1
                for li in c.children:
                    if isinstance(li, htmldom.Node) and li.name == "li":
                        text = inline(li).strip()
                        indent = "  " * (depth + 1)
                        if name == "ul":
                            out.append(f"{indent}* {text}\n")
                        else:
                            out.append(f"{indent}{idx}. {text}\n")
                            idx += 1
                out.append("\n")
            elif name == "blockquote":
                text = inline(c).strip()
                out.append(f"> {text}\n\n")
            elif name == "pre":
                code = c.get_text()
                body = "\n".join("    " + ln for ln in code.strip("\n").split("\n"))
                out.append(body + "\n\n")
            elif name == "hr":
                out.append("* * *\n\n")
            elif name in ("div", "section", "main", "article", "body", "html", "header", "footer", "nav", "figure", "span", "table", "aside"):
                # container: recurse; bare inline content becomes a paragraph
                has_block_child = any(
                    isinstance(g, htmldom.Node)
                    and g.name in ("p", "div", "ul", "ol", "pre", "blockquote", "section", "article", "table", "figure", "main", "header", "footer", "nav", "aside", *_HEADING)
                    for g in c.children
                )
                if has_block_child:
                    block(c, depth)
                else:
                    text = inline(c).strip()
                    if text:
                        out.append(text + "\n\n")
            elif name == "figcaption":
                text = inline(c).strip()
                if text:
                    out.append(text + "\n\n")
            elif name in ("img", "a", "strong", "b", "em", "i", "code"):
                text = inline_single(c)
                if text.strip():
                    out.append(text.strip() + "\n\n")
            else:
                block(c, depth)

    def inline_single(c) -> str:
        wrapper = htmldom.Node("span")
        wrapper.children = [c]
        return inline(wrapper)

    block(root)
    md = "".join(out)
    md = re.sub(r"\n{3,}", "\n\n", md)
    return md if md.endswith("\n\n") else md + "\n\n" if md else md


# --- Orchestration (html_processor.py:198-243) ---

def extract_and_convert_content(
    html_content: str | None,
    original_url: str,
    config: EngineConfig,
    saved_assets_map: dict[str, str] | None = None,
) -> tuple[str | None, str | None]:
    """(title, markdown); title may survive when content is None
    (html_processor.py:218-220); (None, None) on parse error."""
    if not html_content:
        return None, None
    saved_assets_map = saved_assets_map or {}
    try:
        soup = _parse(html_content)
        title = extract_title_from_soup(soup, original_url)
        content = find_main_content(soup, config.content_selectors)
        if content is None:
            return title, None
        if config.rewrite_asset_links and saved_assets_map:
            save_dir = page_dir(original_url, config.output_dir)
            if save_dir:
                content = rewrite_asset_links(
                    content, original_url, save_dir, saved_assets_map,
                    include_srcset=config.include_srcset,
                )
        markdown = html_to_markdown(str(content))
        return title, markdown
    except Exception:
        return None, None
