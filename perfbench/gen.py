#!/usr/bin/env python3
"""Seeded synthetic MediaWiki full-history dump for the benchmark.

    python3 perfbench/gen.py <out_dir> <seed>

Writes into <out_dir>:
  dump.xml          the plain dump
  dump.xml.bz2      the same bytes as one bzip2 stream (level 1, 100 KB blocks)
  manifest.npz      page_id, rev_id and namespace of every revision
  report.json       the content report (also printed)

The dump carries the input properties the diffdb pipeline depends on:
heavy-tailed revisions per page, lognormal KB-scale text sizes with a
long tail, mostly small edits with occasional reverts and blankings,
several namespaces behind a <siteinfo> block, wikitext markup, entity
escapes, non-ASCII and astral characters, deleted text, username / IP /
deleted contributors, minor flags, present and absent comments, and a
long-tail vocabulary of fresh tokens (reference ids, table numbers). At
48 MB that is about 0.2 M distinct tokens, short of the 1<<20 entries at
which the diff kernel's per-thread dictionary resets (see README.md).
The distribution parameters below are chosen by judgment, not fitted to
measured enwiki statistics.

The decompressed size is held at TARGET_BYTES: pages are added until it is
reached, page shapes are drawn by stratified sampling and no page may
exceed 1/128 of it, so the work per pass varies little between seeds.
One process; the bz2 compressor runs on a second thread while the
generator produces text.
"""
import bz2
import hashlib
import json
import os
import queue
import re
import sys
import threading
import time
from statistics import NormalDist

import numpy as np

TARGET_BYTES = 48_000_000
NAMESPACES = [(-2, "Media"), (-1, "Special"), (0, ""), (1, "Talk"), (2, "User"),
              (3, "User talk"), (4, "Wikipedia"), (5, "Wikipedia talk"),
              (10, "Template"), (14, "Category")]
# page namespace mix: mostly articles, plus talk, user and project pages
NS_CHOICES = np.array([0, 1, 2, 3, 4, 5])
NS_PROBS = np.array([0.70, 0.12, 0.07, 0.04, 0.05, 0.02])

SYLL = ("ka ri to ne mo sa lu vi de po an el or is ur qu ze ph th st br gr "
        "ch sh tr pl fl cr ba ce di fo gu ha je ki la me ni ol pe ra si ta "
        "um va wo xi yo").split()
# non-ASCII and astral words: each code point is its own diff token
INTL = ["café", "Zürich", "naïve", "Ångström", "São", "Kraków", "Москва",
        "Санкт", "Ελλάδα", "東京", "大学", "서울", "עברית", "العربية", "हिन्दी",
        "😀", "🎉", "𝔸𝕓𝕔", "𐍈", "𝒳", "🇫🇷", "Œuvre", "ﬁnal"]


def make_vocab(rng, n=60000):
    """Zipf-weighted pseudo-word vocabulary (common words)."""
    lens = rng.integers(1, 5, size=n)
    picks = rng.integers(0, len(SYLL), size=int(lens.sum()))
    words, at = [], 0
    for ln in lens:
        words.append("".join(SYLL[p] for p in picks[at:at + ln]))
        at += ln
    words = list(dict.fromkeys(words))
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / ranks ** 1.05)
    return words, cdf / cdf[-1]


def b36(v):
    s = []
    while True:
        v, r = divmod(v, 36)
        s.append("0123456789abcdefghijklmnopqrstuvwxyz"[r])
        if v == 0:
            return "".join(reversed(s))


class TextGen:
    """Wikitext sentences; every 'rare' token is freshly drawn, so the
    distinct-token count grows with the unique text the dump carries."""

    def __init__(self, rng):
        self.rng = rng
        self.words, self.cdf = make_vocab(rng)
        self.tokens = set()  # distinct word tokens in all text written

    def rare(self):
        r = self.rng.random()
        if r < 0.5:
            return "q" + b36(int(self.rng.integers(36 ** 5, 36 ** 8)))
        if r < 0.8:
            return str(int(self.rng.integers(10 ** 4, 10 ** 9)))
        return "%d_%s" % (int(self.rng.integers(1000, 9999)), b36(int(self.rng.integers(0, 36 ** 6))))

    def sentence(self):
        rng = self.rng
        k = int(rng.integers(6, 22))
        idx = np.searchsorted(self.cdf, rng.random(k))
        ws = [self.words[i] for i in idx]
        u = rng.random(6)
        if u[0] < 0.25:
            i = int(rng.integers(0, k))
            ws[i] = "[[%s]]" % ws[i].capitalize() if u[1] < 0.5 else \
                "[[%s|%s]]" % (ws[i].capitalize(), ws[(i + 1) % k])
        if u[1] < 0.12:
            ws[int(rng.integers(0, k))] = INTL[int(rng.integers(0, len(INTL)))]
        if u[2] < 0.10:
            i = int(rng.integers(0, k))
            ws[i] = "'''%s'''" % ws[i] if u[3] < 0.5 else "''%s''" % ws[i]
        if u[4] < 0.08:
            ws.insert(int(rng.integers(0, k)), "&nbsp;")
        tail = ""
        if u[5] < 0.7:
            a, b, c = self.rare(), self.rare(), self.rare()
            tail = '<ref>{{cite web|url=https://example.org/%s|id=%s|date=2004-%02d-%02d|access=%s}}</ref>' % (
                a, b, int(rng.integers(1, 13)), int(rng.integers(1, 29)), c)
            self.tokens.update((a, b, c))
        self.tokens.update(ws)
        return " ".join(ws).capitalize() + "." + tail

    def table(self):
        rows = int(self.rng.integers(3, 12))
        out = ['{| class="wikitable"', "! Year !! Value !! Code"]
        for _ in range(rows):
            a, b = self.rare(), self.rare()
            self.tokens.update((a, b))
            out.append("|-\n| %d || %s || %s" % (int(self.rng.integers(1900, 2024)), a, b))
        out.append("|}")
        return "\n".join(out)

    def block(self):
        r = self.rng.random()
        if r < 0.08:
            return "== %s ==" % " ".join(self.words[i] for i in
                                        np.searchsorted(self.cdf, self.rng.random(2))).title()
        if r < 0.20:
            return self.table()
        return " ".join(self.sentence() for _ in range(int(self.rng.integers(1, 4))))

    def page_blocks(self, target_bytes):
        out, n = [], 0
        while n < target_bytes:
            b = self.block()
            out.append(b)
            n += len(b) + 1
        return out


def esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def sha1_b36(data):
    return b36(int.from_bytes(hashlib.sha1(data).digest(), "big")).rjust(31, "0")


USERS = ["Alice", "Bob Smith", "Zoë", "Ülrich", "Николай", "花子", "Bot-42", "Editor_7"]
COMMENTS = ["fix typo", "copyedit", "/* History */ expand", "rv vandalism", "Reverted edits by "
            "[[Special:Contributions/192.0.2.1|192.0.2.1]]", "add ref &amp; cite", "→ Updated figures",
            "tidy <ref> tags", "rm unsourced claim 😀"]


def generate(path, seed, target_bytes, compress_sink):
    """Write one dump; returns the content report and the manifest arrays."""
    rng = np.random.default_rng(seed)
    tg = TextGen(rng)
    max_page = target_bytes // 128
    pages_ns, rev_page, rev_id_l, rev_ns = [], [], [], []
    per_ns = {}
    largest = (0, 0, 0)  # bytes, revisions, page_id
    page_revs = []
    written = 0
    buf = []
    buf_n = 0

    def emit(s):
        nonlocal written, buf_n
        b = s.encode("utf-8")
        written += len(b)
        buf.append(b)
        buf_n += len(b)

    def flush(force=False):
        nonlocal buf, buf_n
        if buf and (force or buf_n >= 1 << 20):
            chunk = b"".join(buf)
            out.write(chunk)
            compress_sink(chunk)
            buf, buf_n = [], 0

    head = ['<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" version="0.10" xml:lang="en">',
            "  <siteinfo>", "    <sitename>Wikipedia</sitename>", "    <dbname>synthwiki</dbname>",
            "    <generator>MediaWiki 1.35</generator>", "    <case>first-letter</case>", "    <namespaces>"]
    for k, name in NAMESPACES:
        head.append('      <namespace key="%d" case="first-letter"%s' %
                    (k, ">%s</namespace>" % name if name else " />"))
    head += ["    </namespaces>", "  </siteinfo>"]
    out = open(path, "wb")
    emit("\n".join(head) + "\n")
    page_id = 10
    rev_id = 1000
    ts = 978307200  # 2001-01-01
    # page shapes by stratified sampling: every seed draws one value from
    # each of n_pages equal-probability strata of the revision-count and
    # text-size distributions (in its own order), so the empirical
    # distributions, and with them the work per pass, barely move between
    # seeds while the heavy tails stay
    n_pages = max(8, target_bytes // 20_000)
    q_rev = (rng.permutation(n_pages) + rng.random(n_pages)) / n_pages
    q_size = (rng.permutation(n_pages) + rng.random(n_pages)) / n_pages
    for p in range(n_pages):
        if written >= target_bytes:
            break
        page_id += int(rng.integers(1, 40))
        ns = int(rng.choice(NS_CHOICES, p=NS_PROBS))
        ns_name = dict(NAMESPACES)[ns]
        title_words = [tg.words[i] for i in np.searchsorted(tg.cdf, rng.random(int(rng.integers(1, 4))))]
        if rng.random() < 0.1:
            title_words.append(INTL[int(rng.integers(0, len(INTL)))])
        title = " ".join(title_words).capitalize()
        if ns_name:
            title = ns_name + ":" + title
        # heavy-tailed revision count (Pareto, alpha 1.2) and lognormal
        # text size; bounded so that no page exceeds max_page
        n_rev = min(2000, int((1.0 - q_rev[p]) ** (-1 / 1.2)))
        size0 = min(200_000, int(2500 * np.exp(NormalDist().inv_cdf(q_size[p]))))
        blocks = tg.page_blocks(size0)
        emit("  <page>\n    <title>%s</title>\n    <ns>%d</ns>\n    <id>%d</id>\n" % (esc(title), ns, page_id))
        page_bytes = 0
        history = []
        prev_id = None
        cur_len = 0
        r = 0
        while r < n_rev:
            u = rng.random()
            if r == 0:
                pass
            elif u < 0.04 and len(history) >= 2:
                blocks = list(history[-2])       # revert to the revision before last
            elif u < 0.05 and cur_len < 50_000:
                # blanking / vandalism of a short page (a long one would make
                # the dump's total op volume hinge on a single event)
                blocks = [] if rng.random() < 0.5 else [tg.sentence()]
            elif u < 0.45:
                blocks = list(blocks)
                blocks.insert(int(rng.integers(0, len(blocks) + 1)), tg.block())
            elif u < 0.75 and blocks:
                blocks = list(blocks)
                i = int(rng.integers(0, len(blocks)))
                ws = blocks[i].split(" ")
                j = int(rng.integers(0, len(ws)))
                ws[j] = tg.rare() if rng.random() < 0.5 else tg.words[int(np.searchsorted(tg.cdf, rng.random()))]
                tg.tokens.add(ws[j])
                blocks[i] = " ".join(ws)
            elif u < 0.90 and len(blocks) > 1:
                blocks = list(blocks)
                del blocks[int(rng.integers(0, len(blocks)))]
            else:
                blocks = list(blocks)
                at = int(rng.integers(0, len(blocks) + 1))
                blocks[at:at] = [tg.block() for _ in range(int(rng.integers(3, 12)))]
            history.append(blocks)
            if len(history) > 3:
                history.pop(0)
            text = "\n\n".join(blocks)
            tb = text.encode("utf-8")
            if r > 0 and (page_bytes + len(tb) > max_page or written >= target_bytes):
                break
            rev_id += int(rng.integers(1, 50))
            ts += int(rng.integers(30, 86400))
            x = ["    <revision>\n      <id>%d</id>\n" % rev_id]
            if prev_id is not None:
                x.append("      <parentid>%d</parentid>\n" % prev_id)
            x.append("      <timestamp>%s</timestamp>\n" % time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts)))
            c = rng.random()
            if c < 0.70:
                x.append("      <contributor>\n        <username>%s</username>\n        <id>%d</id>\n      </contributor>\n"
                         % (esc(USERS[int(rng.integers(0, len(USERS)))]), int(rng.integers(1, 10 ** 7))))
            elif c < 0.95:
                x.append("      <contributor>\n        <ip>192.0.2.%d</ip>\n      </contributor>\n" % int(rng.integers(1, 255)))
            else:
                x.append('      <contributor deleted="deleted" />\n')
            if rng.random() < 0.3:
                x.append("      <minor />\n")
            if rng.random() < 0.7:
                x.append("      <comment>%s</comment>\n" % esc(COMMENTS[int(rng.integers(0, len(COMMENTS)))]))
            x.append("      <model>wikitext</model>\n      <format>text/x-wiki</format>\n")
            if rng.random() < 0.005:
                x.append('      <text deleted="deleted" />\n      <sha1 />\n')
            else:
                x.append('      <text bytes="%d" xml:space="preserve">%s</text>\n      <sha1>%s</sha1>\n'
                         % (len(tb), esc(text), sha1_b36(tb)))
            x.append("    </revision>\n")
            emit("".join(x))
            page_bytes += len(tb)
            cur_len = len(tb)
            rev_page.append(page_id)
            rev_id_l.append(rev_id)
            rev_ns.append(ns)
            prev_id = rev_id
            r += 1
            flush()
        emit("  </page>\n")
        pages_ns.append(ns)
        st = per_ns.setdefault(ns, [0, 0])
        st[0] += 1
        st[1] += r
        page_revs.append(r)
        if page_bytes > largest[0]:
            largest = (page_bytes, r, page_id)
        flush()
    emit("</mediawiki>\n")
    flush(force=True)
    out.close()
    report = {
        "decompressed_bytes": written,
        "pages": len(pages_ns),
        "revisions": len(rev_id_l),
        "per_namespace": {str(k): {"pages": v[0], "revisions": v[1]} for k, v in sorted(per_ns.items())},
        "largest_page": {"page_id": largest[2], "text_bytes": largest[0], "revisions": largest[1]},
        "revisions_per_page": {"max": max(page_revs), "p99": float(np.percentile(page_revs, 99)),
                               "median": float(np.median(page_revs)),
                               "pages_with_100_or_more": sum(n >= 100 for n in page_revs)},
        # word runs and single non-ASCII code points, as the diff kernel splits them
        "distinct_tokens": len(set(re.findall(r"[A-Za-z0-9_]+|[^\x00-\x7f]", " ".join(tg.tokens)))),
    }
    manifest = (np.array(rev_page, dtype=np.int64), np.array(rev_id_l, dtype=np.int64),
                np.array(rev_ns, dtype=np.int32))
    return report, manifest


class Bz2Writer:
    """Single-stream bzip2, compressed on a second thread. Level 1 (100 KB
    blocks) rather than the level 9 of real dumps, so that a 48 MB dump has
    enough blocks for several splits per core."""

    def __init__(self, path):
        self.f = open(path, "wb")
        self.q = queue.Queue(maxsize=8)
        self.c = bz2.BZ2Compressor(1)
        self.t = threading.Thread(target=self._run)
        self.t.start()

    def _run(self):
        while True:
            chunk = self.q.get()
            if chunk is None:
                break
            self.f.write(self.c.compress(chunk))
        self.f.write(self.c.flush())
        self.f.close()

    def __call__(self, chunk):
        self.q.put(chunk)

    def close(self):
        self.q.put(None)
        self.t.join()


def build(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    xml = os.path.join(out_dir, "dump.xml")
    bw = Bz2Writer(xml + ".bz2")
    try:
        report, manifest = generate(xml, seed, TARGET_BYTES, bw)
    finally:
        bw.close()
    np.savez(os.path.join(out_dir, "manifest.npz"), page_id=manifest[0], rev_id=manifest[1], ns=manifest[2])
    report["bz2_bytes"] = os.path.getsize(xml + ".bz2")
    report["bz2_ratio"] = round(report["decompressed_bytes"] / report["bz2_bytes"], 3)
    report.update(seed=seed, gen_s=round(time.perf_counter() - t0, 3))
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    return report


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rep = build(sys.argv[1], int(sys.argv[2]))
    print(json.dumps(rep, indent=1))
