"""Seeded generator of Gmail `messages.get`-shaped corpora, plus the truth
the ingest checks compare against.

The truth is built from the plain text the generator encodes, through the
pipeline's documented output spec (header lookup, `Name <addr>` parse,
`MM/dd/yy HH:mm:ss` wall time, pre-order body-chunk join, tag-split HTML
text with per-node trim, ASCII and CR/LF cleanup). No engine code runs here.

Traffic dimensions (fractions are per message, drawn from the seed). The
shapes follow the reference's fixture rules in FIXTURES.md; the shares,
weights and lengths below are unverified assumptions, not measured from
any mailbox (METRICS.md lists each with its source):
  * multipart depth 1-6: the deepest body chunk sits under `depth` nested
    `parts` arrays; DEPTH_WEIGHTS puts 15 % of messages deeper than 4,
    where the engine's unrolled schema (GmailSchema.PartsDepth) ends;
  * HTML vs plain bodies: HTML_SHARE of the other senders' messages carry
    HTML chunks, and every Indeed message does (60 % HTML overall);
  * body length: log-uniform between BODY_MIN and BODY_MAX characters;
  * Indeed senders: INDEED_SHARE of messages come from the Indeed address
    the per-sender extractor keys on, with its dir=rtl job block;
  * Date headers: DATE_WEIGHTS over RFC-2822, ISO and unparseable forms;
  * listing overlap is set by how the ingest workload lays day files into
    mailboxes (each batch listing repeats the previous day).

Usage: python3 perfbench/corpus.py <seed> <days> <per_day> <out_dir>
"""
import base64
import json
import math
import os
import random
import re
import sys

DEPTH_WEIGHTS = [(1, 0.30), (2, 0.25), (3, 0.20), (4, 0.10), (5, 0.10),
                 (6, 0.05)]
SCHEMA_PARTS_DEPTH = 4
HTML_SHARE = 0.5
INDEED_SHARE = 0.2
BODY_MIN, BODY_MAX = 200, 6000
DATE_WEIGHTS = [("rfc2822", 0.6), ("rfc2822_comment", 0.1), ("iso", 0.2),
                ("unparseable", 0.1)]

WORDS = ("data pipeline engineer role team offer interview schedule update "
         "account invoice meeting weekly report review project budget plan "
         "hello thanks regards please confirm attached notes summary next "
         "steps remote office salary benefits start date manager").split()
NON_ASCII = ["café", "naïve", "résumé", "Zürich", "東京"]
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
DOWS = "Mon Tue Wed Thu Fri Sat Sun".split()
SENDERS = ["Ana Lee <ana.lee@example.com>", "Ops Team <ops@example.org>",
           "billing@example.net", "Recruiter <talent@jobs.example.com>",
           "\"Doe, Jo\" <jo.doe@example.com>"]
INDEED = "Indeed Apply <indeedapply@indeed.com>"


def _pick(rng, weighted):
    r = rng.random()
    for value, w in weighted:
        r -= w
        if r < 0:
            return value
    return weighted[-1][0]


def _words(rng, n):
    out = []
    for _ in range(n):
        if rng.random() < 0.03:
            out.append(NON_ASCII[int(rng.random() * len(NON_ASCII))])
        else:
            out.append(WORDS[int(rng.random() * len(WORDS))])
    return " ".join(out)


def _b64(text):
    return base64.urlsafe_b64encode(text.encode("utf-8")).decode("ascii")


def java_trim(s):
    # java.lang.String.trim: strips every char <= U+0020 at both ends
    i, j = 0, len(s)
    while i < j and s[i] <= " ":
        i += 1
    while j > i and s[j - 1] <= " ":
        j -= 1
    return s[i:j]


_TAG = re.compile(r"<[^>]*>")
_STYLE = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1\s*>")
_NON_ASCII = re.compile(r"[^\x00-\x7F]")


def expected_body(chunks):
    """Formatted `body` of a message whose body chunks, in document order,
    are `chunks`: space-join, drop style subtrees, split on tags, trim each
    text node, drop empty nodes, join with '', decode the one entity the
    generator emits (&amp;), drop non-ASCII and CR/LF."""
    joined = _STYLE.sub("", " ".join(chunks))
    nodes = (java_trim(n) for n in _TAG.split(joined))
    text = "".join(n for n in nodes if n).replace("&amp;", "&")
    return _NON_ASCII.sub("", text).replace("\r", "").replace("\n", "")


def _chunk_text(rng, html, n_chars, indeed):
    n_words = max(3, n_chars // 7)
    if not html:
        lines = []
        while n_words > 0:
            k = min(n_words, 6 + int(rng.random() * 10))
            lines.append(_words(rng, k))
            n_words -= k
        return "\n".join(lines)
    paras = []
    while n_words > 0:
        k = min(n_words, 8 + int(rng.random() * 20))
        text = _words(rng, k)
        if rng.random() < 0.2:
            text += " R&amp;D"
        paras.append(f"<p> {text} </p>")
        n_words -= k
    head = ("<style>p{margin:0}</style>" if rng.random() < 0.3 else "")
    job = ""
    if indeed:
        job = ('<div dir="rtl"><p>Application</p><p>Data Engineer</p>'
               '<p>Acme - Springfield</p><p>Acme Corp</p></div>')
    return f"<html><head>{head}</head><body>{job}{''.join(paras)}</body></html>"


def _tree(rng, depth, html, total_chars, indeed):
    """Payload parts tree with one leaf chunk at every nesting level
    1..depth. Returns the parts list, every chunk's text in document
    (pre-)order, and the chunks the unrolled schema keeps."""
    per = max(40, total_chars // depth)
    mime = "text/html" if html else "text/plain"
    chunks = []

    def level(k):
        text = _chunk_text(rng, html, per, indeed and k == 1)
        leaf = {"partId": str(k), "mimeType": mime, "filename": "",
                "headers": [{"name": "Content-Type",
                             "value": f"{mime}; charset=UTF-8"}],
                "body": {"size": len(text.encode("utf-8")),
                         "data": _b64(text)}}
        if k == depth:
            chunks.append((k, text))
            return [leaf]
        nested = {"partId": f"{k}.m", "mimeType": "multipart/mixed",
                  "filename": "", "headers": [], "body": {"size": 0}}
        if rng.random() < 0.5:
            chunks.append((k, text))
            nested["parts"] = level(k + 1)
            return [leaf, nested]
        nested["parts"] = level(k + 1)
        chunks.append((k, text))
        return [nested, leaf]

    # pre-order of the tree above is exactly the order `chunks` is filled
    # in: a leaf listed before its sibling subtree is appended before the
    # recursion, one listed after it is appended after
    return level(1), [t for _, t in chunks], \
        [t for k, t in chunks if k <= SCHEMA_PARTS_DEPTH]


def _date(rng, kind):
    y, mo = 2026, 1 + int(rng.random() * 12)
    d = 1 + int(rng.random() * 28)
    h, mi, s = int(rng.random() * 24), int(rng.random() * 60), \
        int(rng.random() * 60)
    want = f"{mo:02d}/{d:02d}/{y % 100:02d} {h:02d}:{mi:02d}:{s:02d}"
    dow = DOWS[int(rng.random() * 7)]
    if kind == "rfc2822":
        zone = ["+0000", "-0800", "+0530", "GMT"][int(rng.random() * 4)]
        return f"{dow}, {d} {MONTHS[mo - 1]} {y} {h:02d}:{mi:02d}:{s:02d} " \
            f"{zone}", want
    if kind == "rfc2822_comment":
        return f"{dow}, {d} {MONTHS[mo - 1]} {y} {h:02d}:{mi:02d}:{s:02d} " \
            f"-0500 (EST)", want
    if kind == "iso":
        return f"{y}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}", want
    return ["sometime last week", "n/a", "32 Foo 2026 99:99"][
        int(rng.random() * 3)], None


def _message(rng, day):
    mid = "%016x" % rng.getrandbits(64)
    depth = _pick(rng, DEPTH_WEIGHTS)
    html = rng.random() < HTML_SHARE
    indeed = rng.random() < INDEED_SHARE
    if indeed:
        html = True
    sender = INDEED if indeed else SENDERS[int(rng.random() * len(SENDERS))]
    addr = sender.split("<")[-1].replace(">", "").strip()
    subject = "Re: " + _words(rng, 2 + int(rng.random() * 6))
    date_header, date_string = _date(rng, _pick(rng, DATE_WEIGHTS))
    total = int(math.exp(math.log(BODY_MIN) + rng.random() *
                         (math.log(BODY_MAX) - math.log(BODY_MIN))))
    parts, chunks, shallow = _tree(rng, depth, html, total, indeed)
    headers = [{"name": "From" if rng.random() < 0.8 else "FROM",
                "value": sender},
               {"name": "Date", "value": date_header}]
    if rng.random() < 0.1:  # a stale duplicate: the LAST Subject wins
        headers.append({"name": "subject", "value": "draft"})
    headers.append({"name": "Subject", "value": subject})
    msg = {"id": mid, "threadId": mid, "labelIds": ["INBOX"],
           "snippet": subject[:40], "historyId": str(day),
           "internalDate": str(1767225600000 + day * 86400000),
           "payload": {"partId": "", "mimeType": "multipart/mixed",
                       "filename": "", "headers": headers,
                       "body": {"size": 0}, "parts": parts},
           "sizeEstimate": total}
    truth = {"id": mid, "day": day, "depth": depth, "html": html,
             "subject": subject, "from": addr, "date_string": date_string,
             "body": expected_body(chunks)}
    if depth > SCHEMA_PARTS_DEPTH:
        # what is left when the chunks below the unrolled schema are lost
        truth["body_shallow"] = expected_body(shallow)
    return msg, truth


def generate(seed, days, per_day, out_dir):
    """Writes day-<d>.jsonl (d = 1..days, `per_day` messages each) and
    truth.jsonl into `out_dir`. The same arguments give byte-identical
    files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    with open(os.path.join(out_dir, "truth.jsonl"), "w") as tf:
        for day in range(1, days + 1):
            with open(os.path.join(out_dir, f"day-{day}.jsonl"), "w") as df:
                for _ in range(per_day):
                    msg, truth = _message(rng, day)
                    df.write(json.dumps(msg, separators=(",", ":")) + "\n")
                    tf.write(json.dumps(truth, separators=(",", ":")) + "\n")


def read_truth(corpus_dir):
    with open(os.path.join(corpus_dir, "truth.jsonl")) as f:
        return [json.loads(line) for line in f]


if __name__ == "__main__":
    s, d, n, out = sys.argv[1:5]
    generate(int(s), int(d), int(n), out)
