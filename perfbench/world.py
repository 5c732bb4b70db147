"""Seeded input generator owned by the benchmark.

Everything the crawl engine sees is produced here from ``--seed`` and
written as parquet tables, so a change to ``reffy_spark.sources`` cannot
silently change a workload. The generator is plain Python
(``random.Random(seed)``); no Spark runs while inputs are made.

Two page shapes:

* crawl pages (1-2 KB): a web of hosts in politeness tiers with one hot
  host, multipage captures that collapse to one canonical URL, stale
  duplicate captures, ``%``-escaped URLs, links to missing pages, to
  robots-disallowed paths and to a disallowed host;
* spec pages (~12 to ~145 KB): nested ``<dl><dt><dfn>`` sections,
  numbered headings, IDL, CSS property tables, algorithms, events,
  element definitions and CDDL, so every extraction module has work.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from reffy_spark.functions.urls import url_canon_py

# (host, weight, crawl_delay_ms): the reference's politeness tiers
# (2 s csswg, 1 s w3.org, 100 ms default) plus one hot host
HOSTS = [
    ("drafts.csswg.org", 2, 2000),
    ("www.w3.org", 3, 1000),
    ("spec.whatwg.org", 1, 100),
    ("w3c.github.io", 8, 100),
    ("wicg.github.io", 1, 100),
    ("example-a.test", 2, 100),
    ("example-b.test", 2, 100),
    ("rfc-editor.test", 1, 250),
]
BLOCKED_HOST = "blocked.test"
LINKS_PER_PAGE = 4
# spec pages: sections per page, repeated; a section is ~0.5 KB, so the
# ladder runs from ~12 KB to ~145 KB and every seed gets the same mix
SPEC_SECTIONS = [20, 30, 45, 60, 90, 120, 160, 240]
BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary())]
)


@dataclass
class Corpus:
    """One generated input set plus what the checks need to know."""

    pages: list[dict]  # url, warc_ts, html (bytes); captures, not unique
    seeds: list[str]
    robots: list[dict]
    # canonical URL -> its freshest capture (a ``pages`` row)
    freshest: dict[str, dict] = field(default_factory=dict)
    # recrawl only: the previous crawl's results and the canonical URLs
    # whose content did not change since
    fallback: list[dict] | None = None
    unchanged: set[str] | None = None


def robots_rows() -> list[dict]:
    rows = []
    for host, _w, delay in HOSTS:
        rows.append({"host": host, "path_prefix": "/", "allow": True, "crawl_delay_ms": delay})
        rows.append(
            {"host": host, "path_prefix": "/private/", "allow": False, "crawl_delay_ms": delay}
        )
    rows.append({"host": BLOCKED_HOST, "path_prefix": "/", "allow": False, "crawl_delay_ms": 100})
    return rows


def _page_url(rng: random.Random, i: int, host: str) -> str:
    """Raw URL of page ``i``; the forms exercise every canonicalisation
    rule the frontier applies."""
    if host == "spec.whatwg.org":
        return f"https://spec.whatwg.org/multipage/section-{i}.html"
    if host == "www.w3.org":
        tail = rng.choice(["", "", "Overview.html", "index.html"])
        scheme = "http" if rng.random() < 0.2 else "https"
        return f"{scheme}://www.w3.org/TR/spec-{i}/{tail}"
    if host.endswith(".github.io"):
        return f"https://{host}/spec-{i}"
    if rng.random() < 0.08:
        # percent-escaped unreserved characters: the Arrow slow path of
        # with_url_canon
        return f"https://{host}/spec-%7E{i}/%7Ecurrent/"
    return f"https://{host}/spec-{i}/"


def _crawl_html(rng: random.Random, i: int, title: str, targets: list[str]) -> str:
    sections = []
    for s in range(1 + i % 3):
        sections.append(
            f'<h3 id="s{i}-{s}">1.{s + 1} Part {s} of {i}</h3>'
            f'<p>Defines <dfn id="t{i}-{s}" data-dfn-type="dfn" data-export="">'
            f"term {i}.{s}</dfn> for spec {i}.</p>"
        )
    links = []
    for k, t in enumerate(targets):
        frag = f"#frag-{rng.randint(0, 4)}" if rng.random() < 0.6 else ""
        if rng.random() < 0.25:
            links.append(
                f'<p><a href="{t}{frag or "#auto"}" data-link-type="dfn">auto {k}</a></p>'
            )
        else:
            links.append(f'<p>See <a href="{t}{frag}">link {k}</a>.</p>')
    refs = "".join(
        f'<dt>[REF{k}]</dt><dd><a href="{t}">Ref {k}</a></dd>' for k, t in enumerate(targets[:2])
    )
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        f'<meta name="generator" content="bikeshed 1.0"></head><body>'
        f'<div class="head"><h1 id="title">{title}</h1>'
        f'<a href="https://github.example/repo-{i}">repo</a></div>'
        f'<h2 id="intro">1. Introduction</h2>{"".join(sections)}{"".join(links)}'
        f'<pre class="idl">interface Spec{i} {{\n  attribute DOMString name;\n}};</pre>'
        f'<h2 id="references">A. References</h2><dl>{refs}</dl>'
        f"</body></html>"
    )


def crawl_corpus(seed: int, n_pages: int, n_seeds: int | None, changed_frac: float = 0.0) -> Corpus:
    """The crawl world. ``n_seeds=None`` makes every page a seed (replay).
    ``changed_frac`` > 0 makes it a recrawl (see ``_add_recrawl``)."""
    rng = random.Random(seed)
    weights = [w for _h, w, _d in HOSTS]
    hosts = rng.choices([h for h, _w, _d in HOSTS], weights=weights, k=n_pages)
    urls = [_page_url(rng, i, hosts[i]) for i in range(n_pages)]

    def link_target(j: int) -> str:
        u = urls[j]
        # the same page linked through another spelling of its URL
        return u.replace("%7E", "~") if rng.random() < 0.5 else u

    pages: list[dict] = []
    for i in range(n_pages):
        targets = [link_target(rng.randrange(n_pages)) for _ in range(LINKS_PER_PAGE)]
        r = rng.random()
        if r < 0.10:
            targets.append(f"https://example-b.test/missing-{rng.randrange(10 * n_pages)}/")
        elif r < 0.15:
            targets.append(f"https://{hosts[i]}/private/draft-{i}/")
        elif r < 0.18:
            targets.append(f"https://{BLOCKED_HOST}/spec-{i}/")
        ts = BASE_TS + dt.timedelta(minutes=i)
        html = _crawl_html(rng, i, f"Spec {i}", targets)
        pages.append({"url": urls[i], "warc_ts": ts, "html": html.encode()})
        if rng.random() < 0.03:
            # an older capture of the same URL: must lose to the freshest
            pages.append(
                {
                    "url": urls[i],
                    "warc_ts": ts - dt.timedelta(days=30),
                    "html": _crawl_html(rng, i, f"Stale {i}", targets[:1]).encode(),
                }
            )
    if n_seeds is None:
        seeds = list(urls)
    else:
        seeds = [urls[j] for j in sorted(rng.sample(range(n_pages), n_seeds))]
        # a missing and a disallowed seed: notfound row / robots drop
        seeds += [f"https://example-a.test/missing-seed-{seed}/", f"https://{BLOCKED_HOST}/x/"]
    corpus = Corpus(pages=pages, seeds=seeds, robots=robots_rows())
    corpus.freshest = freshest_by_canon(pages)
    if changed_frac > 0:
        _add_recrawl(corpus, rng, changed_frac)
    return corpus


def freshest_by_canon(pages: list[dict]) -> dict[str, dict]:
    """Canonical URL -> its freshest capture (max warc_ts, then max raw
    URL): the engine's pages dedup rule."""
    best: dict[str, dict] = {}
    for p in pages:
        c = url_canon_py(p["url"])
        if c not in best or (p["warc_ts"], p["url"]) > (best[c]["warc_ts"], best[c]["url"]):
            best[c] = p
    return best


# the scaling job's modules: replay and recrawl extract these, and the
# fallback table carries one column per module
REPLAY_MODULES = ["links", "headings", "ids", "dfns", "title"]


def _add_recrawl(corpus: Corpus, rng: random.Random, changed_frac: float) -> None:
    """Turn the corpus into a recrawl: the captures become one fresh
    capture per canonical URL, ``changed_frac`` of them with new content,
    and the first captures become the previous crawl's results table.

    The fallback carries ``etag`` = md5 of the earlier capture and a
    sentinel per module, so a reused row proves extraction was skipped."""
    before = corpus.freshest
    canon = sorted(before)
    changed = set(rng.sample(canon, round(changed_frac * len(canon))))
    corpus.pages = [
        {
            "url": c,
            "warc_ts": BASE_TS + dt.timedelta(days=60),
            "html": before[c]["html"].replace(b"</body>", b"<p>Updated.</p></body>")
            if c in changed
            else before[c]["html"],
        }
        for c in canon
    ]
    corpus.seeds = canon
    corpus.freshest = freshest_by_canon(corpus.pages)
    corpus.unchanged = set(canon) - changed
    corpus.fallback = [
        {
            "url_canon": c,
            "etag": hashlib.md5(before[c]["html"]).hexdigest(),
            "last_modified": BASE_TS,
            "status": "ok",
            **{m: f'"fallback:{m}:{k}"' for m in REPLAY_MODULES},
        }
        for k, c in enumerate(canon)
    ]


# --------------------------------------------------------------------------
# spec-sized pages
# --------------------------------------------------------------------------


def _spec_section(p: int, s: int, depth: int, kind: int, word: str) -> str:
    """One numbered section: heading, a nested definition list ``depth``
    levels deep, and one of the structured blocks the modules parse."""
    sid = f"p{p}-s{s}"
    h = 3 + s % 2
    parts = [f'<h{h} id="{sid}"><span class="secno">{s}.</span> Section {s} {word}</h{h}>']
    dl = ""
    for d in reversed(range(depth)):
        dl = (
            f'<dl><dt><dfn id="{sid}-d{d}" data-dfn-type="dfn" data-export="">'
            f"{word} term {s}.{d}</dfn></dt><dd><p>Meaning {d} of "
            f'<a href="#{sid}-d0">term</a>.</p>{dl}</dd></dl>'
        )
    parts.append(dl)
    if kind == 0:
        parts.append(
            f'<pre class="idl">[Exposed=Window]\ninterface {word.title()}{p}x{s} {{\n'
            f"  attribute DOMString name{s};\n  undefined run{s}(long n);\n}};</pre>"
        )
    elif kind == 1:
        parts.append(
            f'<table class="def propdef"><tbody><tr><th>Name:</th>'
            f'<td><dfn id="propdef-p{p}-{s}" data-dfn-type="property" data-export="">'
            f"{word}-{p}-{s}</dfn></td></tr><tr><th>Value:</th><td>auto | &lt;length&gt;</td></tr>"
            f"<tr><th>Initial:</th><td>auto</td></tr></tbody></table>"
        )
    elif kind == 2:
        parts.append(
            f'<div class="algorithm" data-algorithm="{word} {s}"><p>To '
            f'<dfn id="{sid}-algo" data-dfn-type="dfn">{word} {s}</dfn>, given <var>x</var>:</p>'
            f"<ol><li><p>Let <var>y</var> be {s}.</p></li><li><p>Return <var>y</var>.</p></li></ol></div>"
        )
    elif kind == 3:
        parts.append(
            f'<p>Fire an event named <dfn id="{sid}-ev" data-dfn-type="event" '
            f'data-dfn-for="Thing{p}x{s}">{word}{s}</dfn> at the element.</p>'
        )
    elif kind == 4:
        parts.append(
            f'<h5 id="{sid}-elh">The <dfn id="{sid}-el" data-dfn-type="element">'
            f"{word}-{p}-{s}</dfn> element</h5>"
            f'<dl class="element"><dt>Categories:</dt><dd>Flow content.</dd></dl>'
        )
    else:
        parts.append(f'<pre class="cddl">{word}-{s} = {{ name: tstr, size: uint }}</pre>')
    return "".join(parts)


_WORDS = ["alpha", "bravo", "delta", "gamma", "kappa", "sigma", "omega", "theta"]


def spec_corpus(seed: int, n_pages: int) -> Corpus:
    """Spec-sized single-host pages. Page ``p`` has
    ``SPEC_SECTIONS[p % 8]`` sections, so the size mix, and the work, is
    the same for every seed; the seed picks each page's words and where
    its cycle of nesting depths (1-4) and block kinds starts."""
    rng = random.Random(seed)
    pages = []
    for p in range(n_pages):
        word = rng.choice(_WORDS)
        d0, k0 = rng.randrange(4), rng.randrange(6)
        body = "".join(
            _spec_section(p, s, 1 + (s + d0) % 4, (s + k0) % 6, word)
            for s in range(SPEC_SECTIONS[p % len(SPEC_SECTIONS)])
        )
        html = (
            f"<!DOCTYPE html><html><head><title>Spec {p} {word}</title>"
            f'<meta name="generator" content="respec 1.0"></head><body>'
            f'<div class="head"><h1 id="title">Spec {p} {word}</h1></div>'
            f'<h2 id="p{p}-toc">Contents</h2>{body}</body></html>'
        )
        pages.append(
            {
                "url": f"https://w3c.github.io/big-{p}/",
                "warc_ts": BASE_TS + dt.timedelta(hours=p),
                "html": html.encode(),
            }
        )
    corpus = Corpus(pages=pages, seeds=[pg["url"] for pg in pages], robots=robots_rows())
    corpus.freshest = freshest_by_canon(pages)
    return corpus


# --------------------------------------------------------------------------
# parquet output
# --------------------------------------------------------------------------


def write_tables(corpus: Corpus, outdir: str) -> dict[str, str]:
    """Write the corpus as parquet; returns table name -> path."""
    os.makedirs(outdir, exist_ok=True)
    paths = {}

    def put(name: str, table: pa.Table) -> None:
        paths[name] = os.path.join(outdir, f"{name}.parquet")
        pq.write_table(table, paths[name])

    put("pages", pa.Table.from_pylist(corpus.pages, schema=PAGES_SCHEMA))
    put(
        "seeds",
        pa.table({"url": corpus.seeds, "seed_idx": list(range(len(corpus.seeds)))}),
    )
    put("robots", pa.Table.from_pylist(corpus.robots))
    if corpus.fallback is not None:
        put("fallback", pa.Table.from_pylist(corpus.fallback))
    return paths
