"""Seed-driven input generators for the curate workload.

Everything the engine reads is made here from the seed: the same seed
gives byte-identical inputs.
"""
import gzip
import hashlib
import os

import numpy as np

# Words no generated vocabulary may contain: every language's stopword
# list the engine's heuristic language ID votes with, so generated
# English pages read as English and nothing else.
_RESERVED = {
    "the", "and", "of", "to", "a", "in", "is", "that", "for", "with",
    "der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "nicht",
    "le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que",
    "el", "los", "y", "es", "en", "por", "para", "be", "have",
    "jackpot", "roulette", "casino", "javascript", "lorem", "ipsum"}

_EN_STOPS = ["the", "and", "of", "to", "in", "is", "that", "for", "with",
             "be", "have", "the", "of", "and"]
_ES_STOPS = ["el", "la", "los", "y", "es", "un", "una", "en", "por", "para", "que"]


def vocabulary(rng, n, min_len=3, max_len=9):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(letters, rng.randint(min_len, max_len + 1)))
        if w not in seen and w not in _RESERVED:
            seen.add(w)
            words.append(w)
    return words


# ---- curate: a multi-file gzip WARC crawl with planted outcomes --------

CURATE_KINDS = [  # (kind, share); "keep" pages are the planted survivors
    ("keep", 0.58), ("digest_repeat", 0.06), ("blocklisted", 0.04),
    ("url_keyword", 0.03), ("badword", 0.04), ("non_english", 0.06),
    ("gopher_short", 0.05), ("c4_brace", 0.04), ("exact_dup", 0.05),
    ("near_dup", 0.05)]


def _sentence(rng, vocab, stops, n_words):
    ws = [stops[rng.randint(len(stops))] if rng.random_sample() < 0.35
          else vocab[rng.randint(len(vocab))] for _ in range(n_words)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraphs(rng, vocab, stops, n_par):
    return [" ".join(_sentence(rng, vocab, stops, rng.randint(9, 16))
                     for _ in range(rng.randint(2, 4))) for _ in range(n_par)]


def _http(paragraphs):
    html = "<html><body>" + "".join("<p>%s</p>" % p for p in paragraphs) + \
        "</body></html>"
    body = html.encode()
    return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            b"Content-Length: %d\r\n\r\n" % len(body)) + body


def _record(rec_id, uri, payload, digest):
    headers = "\r\n".join([
        "WARC/1.0", "WARC-Type: response", "WARC-Record-ID: %s" % rec_id,
        "WARC-Target-URI: %s" % uri,
        "Content-Type: application/http; msgtype=response",
        "Content-Length: %d" % len(payload),
        "WARC-Payload-Digest: sha1:%s" % digest, "", ""])
    return headers.encode() + payload + b"\r\n\r\n"


def crawl(out_dir, seed, n_docs, n_files=8):
    """Write `n_files` gzip WARC files holding `n_docs` response records
    and return the set of record ids planted to survive the recipe."""
    rng = np.random.RandomState(seed)
    # one vocabulary for every seed; the seed picks the pages
    vocab = vocabulary(np.random.RandomState(0), 600)
    kinds, shares = zip(*CURATE_KINDS)
    # a fixed count of each kind, in seed order: the mix is the same for
    # every seed, the pages and their order are not
    counts = np.floor(np.array(shares) / sum(shares) * n_docs).astype(int)
    counts[0] += n_docs - counts.sum()
    picks = rng.permutation(np.repeat(np.arange(len(kinds)), counts))
    records, keep_ids, originals = [], set(), []

    def rid(i):
        return "<urn:uuid:%08x-0000-4000-8000-%012d>" % (seed & 0xFFFFFFFF, i)

    for i, k in enumerate(picks):
        kind = kinds[k]
        # copies need an untouched earlier original; fall back to keep
        if kind in ("digest_repeat", "exact_dup", "near_dup") and not originals:
            kind = "keep"
        host = "site%d.example.com" % rng.randint(400)
        uri = "http://%s/page/%d" % (host, i)
        if kind in ("digest_repeat", "exact_dup", "near_dup"):
            o = originals.pop(rng.randint(len(originals)))
            pars, payload, digest = o["pars"], o["payload"], o["digest"]
            if kind == "exact_dup":  # same text, its own digest
                digest = hashlib.sha1(payload + uri.encode()).hexdigest()
            elif kind == "near_dup":  # the original minus its last sentence
                last = pars[-1].rsplit(". ", 1)
                pars = pars[:-1] + ([last[0] + "."] if len(last) > 1 else [])
                payload = _http(pars)
                digest = hashlib.sha1(payload + uri.encode()).hexdigest()
            records.append(_record(rid(i), uri, payload, digest))
            continue
        if kind == "non_english":
            pars = _paragraphs(rng, vocab, _ES_STOPS, rng.randint(4, 7))
        elif kind == "gopher_short":
            pars = [_sentence(rng, vocab, _EN_STOPS, rng.randint(9, 14))
                    for _ in range(2)]
        else:
            pars = _paragraphs(rng, vocab, _EN_STOPS, rng.randint(5, 8))
        if kind == "badword":
            pars[-1] += " Also try our jackpot tonight."
        elif kind == "c4_brace":
            pars[0] = pars[0].replace(" ", " cfg{x} ", 1)
        elif kind == "blocklisted":
            uri = "http://x%d.spam-tracker.net/page/%d" % (rng.randint(9), i)
        elif kind == "url_keyword":
            uri = "http://%s/casino/promo/%d" % (host, i)
        payload = _http(pars)
        digest = hashlib.sha1(payload + uri.encode()).hexdigest()
        records.append(_record(rid(i), uri, payload, digest))
        if kind == "keep":
            keep_ids.add(rid(i))
            originals.append({"pars": pars, "payload": payload, "digest": digest})
    os.makedirs(out_dir, exist_ok=True)
    per = (len(records) + n_files - 1) // n_files
    for f in range(n_files):
        with open(os.path.join(out_dir, "crawl-%02d.warc.gz" % f), "wb") as fh:
            for r in records[f * per:(f + 1) * per]:
                fh.write(gzip.compress(r, compresslevel=6))
    return keep_ids
