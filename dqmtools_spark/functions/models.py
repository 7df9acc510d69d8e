"""REAL trained model artifacts for the langid / perplexity seam.

The pipeline's default langid + LM are deterministic stand-ins
(``textproc.py``) so the oracle gate stays bit-exact.  This module is
the other half of the story the north rule asks for — "fastText langid
and KenLM-style n-gram perplexity scoring run inside vectorized
pandas/Arrow UDFs": genuinely *trained* artifacts in the two standard
interchange formats, plus pure-Python loaders (the sandbox has neither
the ``fasttext`` nor the ``kenlm`` wheel), wired through the proven
injection seam ``pipeline.python_phase(models=...)`` (tests/test_model_seam.py).

Two artifact families:

1. **ARPA n-gram LM** (the format KenLM/SRILM produce and consume):
   interpolated Witten–Bell smoothing written as a standard backoff
   ARPA file.  Storing the *interpolated* probabilities makes the
   backoff weight of an unpruned context exactly the WB interpolation
   weight λ(h); after count-pruning, backoff weights are recomputed by
   the standard renormalisation so every context still sums to exactly
   1 over the vocabulary — a property the test suite checks directly.

2. **fastText supervised classifier** in the official binary model
   layout (magic 793712314, version 12 — the layout
   ``FastText::saveModel`` writes: args, dictionary with NUL-terminated
   entries + int64 count + int8 entry-type, dense float32 input/output
   matrices), with fastText's FNV-1a token hash (including the
   ``int8_t`` sign-extension quirk) and UTF-8-aware char-n-gram
   subword extraction, trained by plain softmax SGD.

Training is DRIVER-SIDE and offline by design: at 10^12-document scale
the model is a pretrained artifact shipped to executors (closure or
``--files``), never something the job fits in-line.  Loaders return
plain picklable objects so a bound ``model.predict`` rides the UDF
closure to workers exactly like the stand-ins do.

Reference anchor: the reference builds per-channel decoder state once
and reuses it across frames (dataframe_creator.py:32-116); here the
"decoder state" is a trained model loaded once per executor.
"""

from __future__ import annotations

import gzip
import math
import os
import struct
from collections import Counter
from itertools import chain

import numpy as np
import pandas as pd

# =====================================================================
# Part 1 — ARPA backoff language model (KenLM/SRILM interchange format)
# =====================================================================

BOS = "<s>"
EOS = "</s>"
UNK = "<unk>"

_LOG10_BOS = -99.0  # SRILM convention: <s> is context-only


def tokenize(text: str) -> list[str]:
    """Lowercased whitespace tokens — the same convention as
    ``textproc.perplexity`` so stand-in and real LM see identical
    token streams."""
    return text.lower().split()


def _wb_interpolated(counts_by_order, order, vocab):
    """Interpolated Witten–Bell probabilities, bottom-up.

    Returns ``probs[n]``: dict mapping n-gram tuple -> probability.
    Unigrams interpolate with the uniform distribution over ``vocab``
    so every vocab word (incl. <unk> and </s>) has mass and the
    unigram level sums to exactly 1 (modulo float error).
    """
    vocab_list = sorted(vocab)
    v = len(vocab_list)

    # unigram level
    uni_counts = counts_by_order[1]
    total = sum(uni_counts.values())
    n1plus = len(uni_counts)  # distinct continuations of the empty context
    probs: dict[int, dict[tuple, float]] = {1: {}}
    denom = total + n1plus
    for w in vocab_list:
        c = uni_counts.get((w,), 0)
        probs[1][(w,)] = (c + n1plus * (1.0 / v)) / denom

    # higher orders
    for n in range(2, order + 1):
        ngram_counts = counts_by_order[n]
        ctx_total: Counter = Counter()
        ctx_types: Counter = Counter()
        for ng, c in ngram_counts.items():
            ctx_total[ng[:-1]] += c
            ctx_types[ng[:-1]] += 1
        probs[n] = {}
        lower = probs[n - 1]
        for ng, c in ngram_counts.items():
            ctx = ng[:-1]
            lam_num = ctx_types[ctx]
            den = ctx_total[ctx] + lam_num
            probs[n][ng] = (c + lam_num * lower[ng[1:]]) / den
    return probs


class ArpaLM:
    """A loaded (or freshly trained) ARPA backoff model.

    ``table[n]`` maps an n-tuple of words to ``(log10_prob, log10_bow)``
    (bow 0.0 when absent/terminal).  Scoring follows the standard
    backoff recursion::

        p(w | h) = p(h·w)              if h·w is listed
                 = bow(h) · p(w | h')  otherwise  (bow(h)=1 if h unlisted)
    """

    # memo size caps: web-text token/n-gram frequencies are Zipfian, so
    # a bounded memo absorbs nearly all repeats while holding executor
    # memory constant on open-ended corpora (the cap, not the corpus,
    # bounds the cache)
    _MEMO_CAP = 1 << 17

    def __init__(self, order: int, table: dict[int, dict[tuple, tuple[float, float]]]):
        self.order = order
        self.table = table
        self.vocab = {ng[0] for ng in table[1]}
        self._score_memo: dict[tuple, float] = {}
        # perplexity_batch state: the same scores keyed by vocab-id rows
        self._id_memo: dict[tuple, float] = {}
        self._vocab_ids: tuple | None = None

    # -- scoring ------------------------------------------------------

    def _norm(self, w: str) -> str:
        return w if w in self.vocab else UNK

    def word_logprob(self, context: tuple, word: str) -> float:
        """log10 p(word | context) with backoff; context is already
        vocab-normalised and at most order-1 long."""
        while True:
            ng = context + (word,)
            hit = self.table.get(len(ng), {}).get(ng)
            if hit is not None:
                return hit[0]
            if not context:
                # word is in vocab by construction (normalised to <unk>)
                return self.table[1][(word,)][0]
            bow = self.table.get(len(context), {}).get(context, (0.0, 0.0))[1]
            context = context[1:]
            if bow:
                return bow + self.word_logprob(context, word)

    def sentence_logprob(self, tokens: list[str]) -> tuple[float, int]:
        """(sum log10 p, n scored events) over w1..wn </s> with full
        <s> padding — the standard full-sentence evaluation KenLM's
        ``score`` performs."""
        words = [self._norm(w) for w in tokens] + [EOS]
        context = (BOS,) * (self.order - 1)
        total = 0.0
        memo = self._score_memo
        for w in words:
            ng = context + (w,)
            lp = memo.get(ng)
            if lp is None:
                lp = self.word_logprob(context, w)
                if len(memo) < self._MEMO_CAP:
                    memo[ng] = lp
            total += lp
            context = (context + (w,))[-(self.order - 1):] if self.order > 1 else ()
        return total, len(words)

    def text_perplexity(self, text: str | None) -> float | None:
        """10^(-mean log10 p) over the text's tokens (None for empty) —
        the drop-in ``ppl_fn`` for ``python_phase(models=...)``."""
        if not text:
            return None
        toks = tokenize(text)
        if not toks:
            return None
        lp, n = self.sentence_logprob(toks)
        return float(10.0 ** (-lp / n))

    def perplexity_batch(self, token_lists: list[list[str] | None]) -> list[float | None]:
        """``text_perplexity`` of a batch of documents given as
        ``text.lower().split()`` token lists (``None`` for a missing or
        empty text), bit-identical to scoring each text on its own.

        The batch's tokens become vocabulary ids and every scored event
        an ``order``-wide id row; each distinct row is scored once,
        through a capped memo keyed by id rows.  Each document's log-probabilities are
        then added strictly in token order (``np.add.at`` applies its
        updates one at a time, in index order), as
        :meth:`sentence_logprob` adds them.
        """
        out: list[float | None] = [None] * len(token_lists)
        docs = [i for i, toks in enumerate(token_lists) if toks]
        if not docs:
            return out
        ids, words, bos, eos, unk = self._batch_vocab()
        lists = [token_lists[i] for i in docs]
        codes, uniq = pd.factorize(np.fromiter(chain.from_iterable(lists), dtype=object))
        tok_id = np.fromiter((ids.get(w, unk) for w in uniq), np.int64, len(uniq))[codes]

        # one block per document: order-1 <s> pads, its tokens, </s>
        pad = self.order - 1
        events = np.fromiter(map(len, lists), np.int64, len(lists)) + 1
        n_ev = int(events.sum())
        ev_doc = np.repeat(np.arange(len(lists)), events)
        ev_pos = np.arange(n_ev) + pad * (ev_doc + 1)
        seq = np.full(n_ev + pad * len(lists), bos, np.int64)
        is_eos = np.zeros(n_ev, bool)
        is_eos[np.cumsum(events) - 1] = True
        seq[ev_pos] = eos
        seq[ev_pos[~is_eos]] = tok_id
        grams = np.stack([seq[ev_pos - pad + k] for k in range(self.order)], axis=1)

        # distinct rows, one column at a time: a batch-local id of the
        # first k columns stays below the event count, so id * V + next
        # never overflows however large the vocabulary and the order
        inverse = grams[:, 0]
        for k in range(1, self.order):
            inverse = pd.factorize(inverse * len(words) + grams[:, k])[0]
        # factorize numbers rows in order of first appearance
        seen = np.maximum.accumulate(np.concatenate(([-1], inverse[:-1])))
        rows = grams[inverse > seen]
        keys = list(zip(*(rows[:, k].tolist() for k in range(self.order))))
        memo = self._id_memo
        lp = [memo.get(key) for key in keys]
        for i in [i for i, v in enumerate(lp) if v is None]:
            ng = tuple(words[rows[i]].tolist())
            lp[i] = self.word_logprob(ng[:-1], ng[-1])
            if len(memo) < self._MEMO_CAP:
                memo[keys[i]] = lp[i]
        totals = np.zeros(len(lists))
        np.add.at(totals, ev_doc, np.array(lp)[inverse])
        for i, lp_sum, n in zip(docs, totals.tolist(), events.tolist()):
            out[i] = float(10.0 ** (-lp_sum / n))
        return out

    def _batch_vocab(self) -> tuple[dict[str, int], np.ndarray, int, int, int]:
        """(vocab word -> id, id -> word, <s> id, </s> id, <unk> id),
        built on first batch use.  A token outside the vocabulary maps
        to <unk> even when it spells a marker, as in :meth:`_norm`."""
        if self._vocab_ids is None:
            vocab = sorted(self.vocab)
            words = vocab + [m for m in (BOS, EOS, UNK) if m not in self.vocab]
            self._vocab_ids = (
                {w: i for i, w in enumerate(vocab)},
                np.array(words, dtype=object),
                *(words.index(m) for m in (BOS, EOS, UNK)),
            )
        return self._vocab_ids


def train_arpa(
    token_lists: list[list[str]],
    order: int = 3,
    word_min_count: int = 2,
    prune_min_counts: tuple[int, ...] = (1, 2, 3),
) -> ArpaLM:
    """Train an interpolated Witten–Bell backoff model and return it as
    an :class:`ArpaLM` (identical to what :func:`write_arpa` +
    :func:`load_arpa` round-trips).

    ``word_min_count`` folds rare words into ``<unk>`` (bounds the
    vocabulary on corpora with open-ended tokens); ``prune_min_counts``
    gives the minimum raw count to KEEP an n-gram entry per order
    (1-indexed by order; unigrams are never pruned).  Backoff weights
    are computed AFTER pruning with the renormalising formula, so the
    pruned model still sums to exactly 1 per context.
    """
    # vocab from raw unigram counts
    raw_uni: Counter = Counter()
    for toks in token_lists:
        raw_uni.update(toks)
    vocab = {w for w, c in raw_uni.items() if c >= word_min_count}
    vocab |= {UNK, EOS}

    def norm(w: str) -> str:
        return w if w in vocab else UNK

    # n-gram counts with <s> padding and </s>.  <s> appears ONLY as
    # context (never as a predicted word): n-grams ending in <s> are
    # not counted at all — context-only <s> entries get sentinel probs
    # and real backoff weights during assembly below.
    counts_by_order: dict[int, Counter] = {n: Counter() for n in range(1, order + 1)}
    for toks in token_lists:
        sent = [BOS] * (order - 1) + [norm(w) for w in toks] + [EOS]
        for n in range(1, order + 1):
            cn = counts_by_order[n]
            for i in range(len(sent) - n + 1):
                ng = tuple(sent[i : i + n])
                if ng[-1] != BOS:
                    cn[ng] += 1

    probs = _wb_interpolated(counts_by_order, order, vocab)

    # prune by raw count (keep all unigrams, and every n-gram whose
    # context touches <s> — sentence starts stay fully modelled and
    # their count is bounded by |vocab| per <s>-context)
    kept: dict[int, dict[tuple, float]] = {1: dict(probs[1])}
    for n in range(2, order + 1):
        thr = prune_min_counts[n - 1] if n - 1 < len(prune_min_counts) else 1
        kept[n] = {
            ng: p
            for ng, p in probs[n].items()
            if counts_by_order[n][ng] >= thr or BOS in ng
        }

    # assemble final table with backoff weights (post-prune renorm):
    #   bow(h) = (1 - Σ_{w kept} p(h·w)) / (1 - Σ_{w kept} p_lower(h'·w))
    table: dict[int, dict[tuple, tuple[float, float]]] = {
        n: {} for n in range(1, order + 1)
    }
    # pass 1 — all probabilities.  Context-only <s> entries ((<s>,),
    # (<s>,<s>), ...) carry the sentinel prob -99 but a REAL backoff
    # weight (pass 2).
    for n in range(1, order + 1):
        entries = set(kept[n])
        if n < order:
            entries.add((BOS,) * n)
        for ng in entries:
            logp = _LOG10_BOS if ng[-1] == BOS else math.log10(kept[n][ng])
            table[n][ng] = (logp, 0.0)

    # pass 2 — backoff weights, bottom-up.  Evaluating an order-n
    # probability touches probs at levels <= n (complete after pass 1)
    # and bows at levels <= n-1 (complete from the previous iteration),
    # never level-n bows — so the bottom-up order is sound.
    for n in range(1, order):
        by_ctx: dict[tuple, list[tuple]] = {}
        for hi_ng in kept[n + 1]:
            by_ctx.setdefault(hi_ng[:-1], []).append(hi_ng)
        lm_view = ArpaLM(n, {k: table[k] for k in range(1, n + 1)})
        for ctx, hi_ngs in by_ctx.items():
            if ctx not in table[n]:
                # context whose own n-gram was pruned: implicit bow 1
                # (absent entry) — standard ARPA semantics
                continue
            num = 1.0
            den = 1.0
            for hi_ng in hi_ngs:
                num -= kept[n + 1][hi_ng]
                den -= 10.0 ** lm_view.word_logprob(hi_ng[1:-1], hi_ng[-1])
            num = max(num, 1e-12)
            den = max(den, 1e-12)
            table[n][ctx] = (table[n][ctx][0], math.log10(num / den))
    return ArpaLM(order, table)


def write_arpa(lm: ArpaLM, path: str) -> None:
    """Serialize in the standard ARPA text format (``.gz`` aware).

    The gzip wrapper pins ``mtime=0`` and embeds no filename so
    regeneration is byte-reproducible, not just content-reproducible
    (a committed artifact must not churn on every retrain)."""
    import io

    f = io.StringIO()
    f.write("\\data\\\n")
    for n in range(1, lm.order + 1):
        f.write(f"ngram {n}={len(lm.table[n])}\n")
    for n in range(1, lm.order + 1):
        f.write(f"\n\\{n}-grams:\n")
        for ng in sorted(lm.table[n]):
            logp, bow = lm.table[n][ng]
            line = f"{logp:.7f}\t{' '.join(ng)}"
            if bow != 0.0:
                line += f"\t{bow:.7f}"
            f.write(line + "\n")
    f.write("\n\\end\\\n")
    data = f.getvalue().encode("utf-8")
    if path.endswith(".gz"):
        data = gzip.compress(data, mtime=0)
    with open(path, "wb") as out:
        out.write(data)


def load_arpa(path: str) -> ArpaLM:
    """Parse a standard ARPA file (``.gz`` aware) into an ArpaLM."""
    opener = gzip.open if path.endswith(".gz") else open
    table: dict[int, dict[tuple, tuple[float, float]]] = {}
    declared: dict[int, int] = {}
    cur_n = 0
    with opener(path, "rt", encoding="utf-8") as f:
        section = None
        for raw in f:
            line = raw.strip("\n").strip("\r")
            if not line.strip():
                continue
            if line == "\\data\\":
                section = "data"
                continue
            if line == "\\end\\":
                break
            if line.startswith("\\") and line.endswith("-grams:"):
                cur_n = int(line[1:].split("-")[0])
                table[cur_n] = {}
                section = "grams"
                continue
            if section == "data":
                # "ngram N=count"
                lhs, _, rhs = line.partition("=")
                declared[int(lhs.split()[1])] = int(rhs)
                continue
            if section == "grams":
                parts = line.split("\t")
                if len(parts) == 1:  # some writers use spaces
                    parts = line.split()
                    logp, words, bow = parts[0], parts[1 : 1 + cur_n], parts[1 + cur_n :]
                else:
                    logp = parts[0]
                    words = parts[1].split(" ")
                    bow = parts[2:]
                table[cur_n][tuple(words)] = (
                    float(logp),
                    float(bow[0]) if bow else 0.0,
                )
    order = max(table)
    for n, cnt in declared.items():
        if len(table.get(n, {})) != cnt:
            raise ValueError(
                f"ARPA header declares {cnt} {n}-grams, found {len(table.get(n, {}))}"
            )
    return ArpaLM(order, table)


# =====================================================================
# Part 2 — fastText supervised classifier (official .bin v12 layout)
# =====================================================================

FT_MAGIC = 793712314
FT_VERSION = 12
_LABEL_PREFIX = "__label__"

# args enums (fastText args.h): loss {hs=1, ns=2, softmax=3, ova=4},
# model {cbow=1, sg=2, sup=3}
_LOSS_SOFTMAX = 3
_MODEL_SUP = 3


def ft_hash(s: str) -> int:
    """fastText's FNV-1a 32-bit token hash, INCLUDING the int8_t
    sign-extension of each byte (dictionary.cc ``Dictionary::hash``) —
    bytes >= 0x80 are sign-extended before the xor, which changes the
    result vs textbook FNV-1a."""
    h = 2166136261
    for b in s.encode("utf-8"):
        if b >= 128:
            b -= 256  # int8_t cast
        h = (h ^ (b & 0xFFFFFFFF)) & 0xFFFFFFFF
        h = (h * 16777619) & 0xFFFFFFFF
    return h


def _utf8_char_spans(word_bytes: bytes) -> list[int]:
    """Start offsets of UTF-8 codepoints (continuation bytes 0b10xxxxxx
    are skipped), mirroring computeSubwords' byte-walk."""
    return [i for i, b in enumerate(word_bytes) if (b & 0xC0) != 0x80]


def ft_subwords(word: str, minn: int, maxn: int) -> list[str]:
    """Char n-grams of ``<word>`` exactly as fastText's
    ``computeSubwords`` walks them: UTF-8 codepoint-aligned, lengths
    minn..maxn, skipping 1-grams anchored at either end."""
    decorated = ("<" + word + ">").encode("utf-8")
    starts = _utf8_char_spans(decorated) + [len(decorated)]
    out = []
    for a in range(len(starts) - 1):
        for n in range(1, maxn + 1):
            if a + n >= len(starts):
                break
            i, j = starts[a], starts[a + n]
            if n >= minn and not (n == 1 and (i == 0 or j == len(decorated))):
                out.append(decorated[i:j].decode("utf-8"))
    return out


_FNV_OFFSET = np.uint32(2166136261)
_FNV_PRIME = np.uint32(16777619)
# byte -> the uint32 fastText xors in: bytes >= 0x80 sign-extended (int8_t)
_FNV_BYTE = np.arange(256, dtype=np.uint32)
_FNV_BYTE[128:] |= np.uint32(0xFFFFFF00)


def ft_subword_hashes(words: list[str], minn: int, maxn: int) -> tuple[np.ndarray, np.ndarray]:
    """``[ft_hash(g) for w in words for g in ft_subwords(w, minn, maxn)]``
    in one numpy pass: returns those uint32 hashes and the n-gram count
    of each word.

    The n-grams that start at one codepoint are prefixes of each other,
    so one FNV-1a walk per start codepoint, one byte per step, yields
    all of them: the hash of a gram is the walk's state after the
    gram's last byte.  The walks of every codepoint of every word run
    side by side, at most ``4 * maxn`` steps."""
    if not words or maxn < max(minn, 1):
        return np.empty(0, dtype=np.uint32), np.zeros(len(words), dtype=np.int64)
    decorated = [("<" + w + ">").encode("utf-8") for w in words]
    lens = np.fromiter(map(len, decorated), np.int64, len(decorated))
    ends = np.cumsum(lens)
    nbytes = int(ends[-1])
    buf = np.frombuffer(b"".join(decorated) + bytes(4 * maxn), dtype=np.uint8)
    starts = np.flatnonzero((buf[:nbytes] & 0xC0) != 0x80)
    # codepoint boundaries: each word ends where the next one starts
    bounds = np.append(starts, nbytes)
    word = np.searchsorted(ends, starts, side="right")
    n = np.arange(1, maxn + 1)
    stop = np.arange(len(starts))[:, None] + n  # boundary after n codepoints
    valid = (stop <= np.searchsorted(bounds, ends)[word][:, None]) & (n >= minn)
    stop = bounds[np.minimum(stop, len(bounds) - 1)]
    if minn <= 1:  # no 1-gram on the '<' or '>' decoration
        valid[:, 0] &= (starts != (ends - lens)[word]) & (stop[:, 0] != ends[word])
    length = np.where(valid, stop - starts[:, None], 1)
    steps = int(length.max())
    state = np.empty((len(starts), steps), dtype=np.uint32)
    h = np.full(len(starts), _FNV_OFFSET)
    for k in range(steps):
        h ^= _FNV_BYTE[buf[starts + k]]
        h *= _FNV_PRIME
        state[:, k] = h
    hashes = np.take_along_axis(state, length - 1, axis=1)[valid]
    counts = np.bincount(word, weights=valid.sum(axis=1), minlength=len(words))
    return hashes, counts.astype(np.int64)


class FastTextModel:
    """A supervised fastText model: dictionary + dense matrices.

    Plain picklable object — a bound ``predict`` ships to executors in
    the UDF closure (the seam's contract).  ``predict`` lowercases its
    input; the trainer lowercases too, so train/serve tokenisation
    agree (fastText itself leaves casing to the caller).
    """

    # token -> feature-id memo cap (see ArpaLM._MEMO_CAP: Zipfian
    # corpora hit the memo constantly; the cap bounds executor memory)
    _MEMO_CAP = 1 << 17

    def __init__(self, args: dict, words: list[tuple[str, int]], labels: list[tuple[str, int]],
                 w_in: np.ndarray, w_out: np.ndarray, ntokens: int = 0):
        self.args = args
        self.words = words      # [(word, count)] sorted count desc
        self.labels = labels    # [(label_with_prefix, count)]
        self.word_id = {w: i for i, (w, _) in enumerate(words)}
        self.w_in = w_in        # (nwords + bucket, dim) float32
        self.w_out = w_out      # (nlabels, dim) float32
        self.ntokens = ntokens
        self._token_id_memo: dict[str, list[int]] = {}
        # predict_batch state, allocated on first use: token -> memo slot,
        # each slot's summed w_in row and id count
        self._tok_slot: dict[str, int] | None = None
        self._tok_rows: np.ndarray | None = None
        self._tok_cnt: np.ndarray | None = None
        self._batch_scale: float | None = None

    # -- features -----------------------------------------------------

    def _token_ids(self, tok: str) -> list[int]:
        # subword extraction + FNV hashing is ~95% of inference cost
        # (measured 5.6 ms/doc without the memo, ~0.3 ms with); token
        # frequencies are Zipfian so the bounded memo absorbs repeats
        memo = self._token_id_memo
        cached = memo.get(tok)
        if cached is not None:
            return cached
        nwords = len(self.words)
        bucket = self.args["bucket"]
        ids = []
        wid = self.word_id.get(tok)
        if wid is not None:
            ids.append(wid)
        if self.args["maxn"] > 0:
            for ng in ft_subwords(tok, self.args["minn"], self.args["maxn"]):
                ids.append(nwords + ft_hash(ng) % bucket)
        if len(memo) < self._MEMO_CAP:
            memo[tok] = ids
        return ids

    def features(self, text: str) -> list[int]:
        ids: list[int] = []
        for tok in text.lower().split():
            ids.extend(self._token_ids(tok))
        eos = self.word_id.get(EOS)
        if eos is not None:
            ids.append(eos)
        return ids

    # -- inference ----------------------------------------------------

    def _scores(self, ids) -> np.ndarray:
        if not len(ids):
            return np.full(len(self.labels), 1.0 / max(len(self.labels), 1))
        hidden = self.w_in[np.asarray(ids)].mean(axis=0)
        z = self.w_out @ hidden
        z -= z.max()
        e = np.exp(z)
        return e / e.sum()

    def predict_scores(self, text: str) -> np.ndarray:
        return self._scores(self.features(text))

    def _label(self, k: int) -> str:
        lab = self.labels[k][0]
        return lab[len(_LABEL_PREFIX):] if lab.startswith(_LABEL_PREFIX) else lab

    def predict(self, text: str | None) -> str:
        """text -> bare language code (label prefix stripped); 'und'
        for empty input — the drop-in ``langid_fn`` for the seam."""
        if not text:
            return "und"
        return self._label(int(np.argmax(self.predict_scores(text))))

    # -- batch inference ------------------------------------------------

    # distinct unseen tokens hashed per numpy pass, and tokens summed per
    # gather: bounds the transient arrays whatever the batch holds
    _HASH_CHUNK = 4096
    _SUM_CHUNK = 1 << 16

    def predict_batch(self, token_lists: list[list[str] | None]) -> list[str]:
        """``predict`` of a batch of documents given as
        ``text.lower().split()`` token lists (``None`` for a missing or
        empty text), with the same labels as predicting each text.

        Each distinct token's feature rows are summed once and memoized
        (one ``dim``-wide float32 row and an id count per token); a
        document's hidden vector is then a segmented sum over its
        tokens, and one matrix product scores the batch.  Summing per
        token reorders the float32 additions, which moves each logit by
        at most ``2u(n + dim)·W``, W = ``max_k Σ_j |w_out[k,j]|·max_i
        |w_in[i,j]|`` (u = 2^-24, n ids in the document).  A document
        whose top two logits are closer than ``8u((n + dim + 1)·W + 4)``
        (twice that bound with a 2x margin, plus a few ulps so that
        ``predict``'s softmax cannot round the two to a tie) is scored
        exactly as ``predict`` scores it, so no label can differ.
        """
        out = ["und"] * len(token_lists)
        docs = [i for i, toks in enumerate(token_lists) if toks is not None]
        if not docs:
            return out
        lists = [token_lists[i] for i in docs]
        ntok = np.fromiter(map(len, lists), np.int64, len(lists))
        offsets = np.concatenate(([0], np.cumsum(ntok)))
        codes, uniq = pd.factorize(np.fromiter(chain.from_iterable(lists), dtype=object))
        rows, cnt = self._distinct_token_rows(uniq)

        dim = self.w_in.shape[1]
        sums = np.zeros((len(lists), dim), dtype=np.float32)
        for lo in range(0, len(codes), self._SUM_CHUNK):
            hi = min(lo + self._SUM_CHUNK, len(codes))
            seg = np.clip(offsets, lo, hi) - lo
            nonempty = seg[1:] > seg[:-1]
            sums[nonempty] += np.add.reduceat(rows[codes[lo:hi]], seg[:-1][nonempty], axis=0)
        n = np.concatenate(([0], np.cumsum(cnt[codes])))[offsets]
        n = n[1:] - n[:-1]
        eos = self.word_id.get(EOS)
        if eos is not None:
            sums += self.w_in[eos]
            n += 1

        scored = n > 0
        z = (sums[scored] / n[scored, None].astype(np.float32)) @ self.w_out.T
        best = np.zeros(len(lists), dtype=np.int64)
        best[scored] = np.argmax(z, axis=1)
        exact = ~scored
        if z.shape[1] > 1:
            top2 = np.partition(z, -2, axis=1)[:, -2:]
            tol = 8 * 2.0**-24 * ((n[scored] + dim + 1) * self._logit_scale() + 4)
            exact[scored] = top2[:, 1] - top2[:, 0] <= tol
        for j in np.flatnonzero(exact):
            best[j] = np.argmax(self._scores(self._doc_ids(lists[j])))
        for i, k in zip(docs, best.tolist()):
            out[i] = self._label(k)
        return out

    def _logit_scale(self) -> float:
        """max_k Σ_j |w_out[k,j]| · max_i |w_in[i,j]| — bounds how far a
        float32 error in the hidden vector moves a logit."""
        if self._batch_scale is None:
            self._batch_scale = float(
                (np.abs(self.w_out) @ np.abs(self.w_in).max(axis=0)).max()
            )
        return self._batch_scale

    def _doc_ids(self, toks: list[str]) -> list[int]:
        """``features`` of a token list, hashed without the id memo."""
        hashes, ngrams = ft_subword_hashes(toks, self.args["minn"], self.args["maxn"])
        sub = (len(self.words) + hashes % self.args["bucket"]).tolist()
        ids: list[int] = []
        at = 0
        for tok, k in zip(toks, ngrams.tolist()):
            wid = self.word_id.get(tok)
            if wid is not None:
                ids.append(wid)
            ids.extend(sub[at:at + k])
            at += k
        eos = self.word_id.get(EOS)
        if eos is not None:
            ids.append(eos)
        return ids

    def _distinct_token_rows(self, uniq: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(summed w_in rows, id counts) of the batch's distinct tokens:
        from the token memo where present, else hashed in chunks and
        memoized while the memo has room."""
        dim = self.w_in.shape[1]
        if self._tok_slot is None:
            self._tok_slot = {}
            self._tok_rows = np.empty((self._MEMO_CAP, dim), dtype=np.float32)
            self._tok_cnt = np.empty(self._MEMO_CAP, dtype=np.int64)
        memo = self._tok_slot
        slot = np.fromiter((memo.get(t, -1) for t in uniq), np.int64, len(uniq))
        rows = np.empty((len(uniq), dim), dtype=np.float32)
        cnt = np.empty(len(uniq), dtype=np.int64)
        seen = slot >= 0
        rows[seen] = self._tok_rows[slot[seen]]
        cnt[seen] = self._tok_cnt[slot[seen]]
        nwords, bucket = len(self.words), self.args["bucket"]
        unseen = np.flatnonzero(~seen)
        for lo in range(0, len(unseen), self._HASH_CHUNK):
            idx = unseen[lo:lo + self._HASH_CHUNK]
            toks = uniq[idx].tolist()
            hashes, ngrams = ft_subword_hashes(toks, self.args["minn"], self.args["maxn"])
            r = np.zeros((len(toks), dim), dtype=np.float32)
            has = ngrams > 0
            if hashes.size:
                first = np.cumsum(ngrams) - ngrams
                ids = nwords + (hashes % bucket).astype(np.int64)
                r[has] = np.add.reduceat(self.w_in[ids], first[has], axis=0)
            wid = np.fromiter((self.word_id.get(t, -1) for t in toks), np.int64, len(toks))
            known = wid >= 0
            r[known] += self.w_in[wid[known]]
            rows[idx], cnt[idx] = r, ngrams + known
            room = min(self._MEMO_CAP - len(memo), len(toks))
            if room > 0:
                at = len(memo)
                self._tok_rows[at:at + room] = r[:room]
                self._tok_cnt[at:at + room] = cnt[idx[:room]]
                memo.update(zip(toks[:room], range(at, at + room)))
        return rows, cnt


def train_fasttext_supervised(
    texts: list[str],
    labels: list[str],
    dim: int = 16,
    bucket: int = 8192,
    minn: int = 2,
    maxn: int = 4,
    epoch: int = 5,
    lr: float = 0.5,
    min_count: int = 5,
    seed: int = 17,
) -> FastTextModel:
    """Softmax SGD over mean-pooled (word + char-n-gram-bucket)
    embeddings — fastText's supervised objective, fit in numpy.
    Deterministic for a fixed seed (plain Python RNG for shuffling,
    seeded normal init)."""
    rng = np.random.default_rng(seed)

    counts: Counter = Counter()
    ntokens = 0
    for t in texts:
        toks = t.lower().split()
        counts.update(toks)
        counts[EOS] += 1
        ntokens += len(toks) + 1
    words = sorted(
        ((w, c) for w, c in counts.items() if c >= min_count or w == EOS),
        key=lambda wc: (-wc[1], wc[0]),
    )
    label_counts = Counter(_LABEL_PREFIX + l for l in labels)
    label_list = sorted(label_counts.items(), key=lambda lc: (-lc[1], lc[0]))

    args = {
        "dim": dim, "ws": 5, "epoch": epoch, "minCount": min_count, "neg": 5,
        "wordNgrams": 1, "loss": _LOSS_SOFTMAX, "model": _MODEL_SUP,
        "bucket": bucket, "minn": minn, "maxn": maxn,
        "lrUpdateRate": 100, "t": 1e-4, "lr": lr,
    }
    nwords, nlabels = len(words), len(label_list)
    w_in = (rng.random((nwords + bucket, dim), dtype=np.float32) * 2 - 1) / dim
    w_out = np.zeros((nlabels, dim), dtype=np.float32)
    model = FastTextModel(args, words, label_list, w_in, w_out, ntokens)
    lab_id = {lab: i for i, (lab, _) in enumerate(label_list)}

    feats = [np.asarray(model.features(t), dtype=np.int64) for t in texts]
    ys = np.asarray([lab_id[_LABEL_PREFIX + l] for l in labels])

    n = len(texts)
    order_idx = np.arange(n)
    total_steps = epoch * n
    step = 0
    for _ in range(epoch):
        rng.shuffle(order_idx)
        for i in order_idx:
            ids = feats[i]
            if ids.size == 0:
                step += 1
                continue
            cur_lr = lr * (1.0 - step / total_steps)
            hidden = w_in[ids].mean(axis=0)
            z = w_out @ hidden
            z -= z.max()
            e = np.exp(z)
            p = e / e.sum()
            gout = p.copy()
            gout[ys[i]] -= 1.0  # dL/dz
            ghid = w_out.T @ gout
            w_out -= cur_lr * np.outer(gout, hidden)
            np.add.at(w_in, ids, (-cur_lr / ids.size) * ghid.astype(np.float32))
            step += 1
    return model


# -- official binary layout -------------------------------------------

_ARGS_FIELDS = [
    "dim", "ws", "epoch", "minCount", "neg", "wordNgrams",
    "loss", "model", "bucket", "minn", "maxn", "lrUpdateRate",
]


def save_fasttext_bin(model: FastTextModel, path: str) -> None:
    """Write the official fastText model file (``FastText::saveModel``
    layout, version 12): magic, version, args (12×int32 + double t),
    dictionary (sizes, then NUL-terminated word + int64 count + int8
    type per entry, words before labels), quant flag + dense input
    matrix (int64 m, int64 n, float32 data), quant flag + output
    matrix.  ``fasttext.load_model`` reads this file."""
    a = model.args
    with open(path, "wb") as f:
        f.write(struct.pack("<ii", FT_MAGIC, FT_VERSION))
        f.write(struct.pack("<" + "i" * 12, *[int(a[k]) for k in _ARGS_FIELDS]))
        f.write(struct.pack("<d", float(a["t"])))
        nwords, nlabels = len(model.words), len(model.labels)
        f.write(struct.pack("<iii", nwords + nlabels, nwords, nlabels))
        f.write(struct.pack("<qq", int(model.ntokens), -1))  # pruneidx_size_=-1
        for word, count, etype in (
            [(w, c, 0) for w, c in model.words] + [(l, c, 1) for l, c in model.labels]
        ):
            f.write(word.encode("utf-8") + b"\x00")
            f.write(struct.pack("<qb", int(count), etype))
        for mat in (model.w_in, model.w_out):
            f.write(struct.pack("<?", False))  # quant_
            f.write(struct.pack("<qq", mat.shape[0], mat.shape[1]))
            f.write(np.ascontiguousarray(mat, dtype="<f4").tobytes())


# ------------------------------------------- per-worker-process cache
#
# Shipping a bound model method in the UDF closure re-unpickles the
# whole model PER TASK and starts every task with cold memos.  The
# path-based handles ship only the artifact path; each Python worker
# process loads the file once and keeps it — and its Zipfian memos —
# warm across every task the reused worker runs.  The reference's
# channel-map-per-decoder pattern, at worker scope.  On a cluster the
# artifact must be visible to executors (ship via ``spark-submit
# --files`` or a shared store); local mode just works.

_PROCESS_CACHE: dict[tuple, object] = {}


def process_cached(loader, path: str | None = None):
    """``loader(path)`` — or ``loader()`` with no path — once per
    process.  Keyed by (loader, path, size, mtime_ns): an artifact
    replaced in place reloads, and one path read by two loaders gives
    each its own model.  A reload drops the replaced model, memos and
    all."""
    if path is None:
        key = (loader, None, None, None)
    else:
        st = os.stat(path)
        key = (loader, path, st.st_size, st.st_mtime_ns)
    model = _PROCESS_CACHE.get(key)
    if model is None:
        model = loader(path) if path is not None else loader()
        for stale in [k for k in _PROCESS_CACHE if k[:2] == key[:2]]:
            del _PROCESS_CACHE[stale]
        _PROCESS_CACHE[key] = model
    return model


class _LangidFromPath:
    """``text -> lang`` over the fastText .bin at ``path``, loaded once
    per worker process; ``batch`` labels a batch of token lists."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, text):
        return process_cached(load_fasttext_bin, self.path).predict(text)

    def batch(self, token_lists):
        return process_cached(load_fasttext_bin, self.path).predict_batch(token_lists)


class _PerplexityFromPath:
    """``text -> perplexity`` over the ARPA LM at ``path``, loaded once
    per worker process; ``batch`` scores a batch of token lists."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, text):
        return process_cached(load_arpa, self.path).text_perplexity(text)

    def batch(self, token_lists):
        return process_cached(load_arpa, self.path).perplexity_batch(token_lists)


def langid_fn_from_path(path: str) -> _LangidFromPath:
    """Picklable ``langid_fn`` for the seam that ships only ``path``."""
    return _LangidFromPath(path)


def ppl_fn_from_path(path: str) -> _PerplexityFromPath:
    """Picklable ``ppl_fn`` for the seam that ships only ``path``."""
    return _PerplexityFromPath(path)


def load_fasttext_bin(path: str) -> FastTextModel:
    """Parse the official fastText .bin layout back into a
    :class:`FastTextModel` (dense, non-quantised models)."""
    with open(path, "rb") as f:
        data = f.read()
    off = 0

    def take(fmt):
        nonlocal off
        vals = struct.unpack_from("<" + fmt, data, off)
        off += struct.calcsize("<" + fmt)
        return vals

    magic, version = take("ii")
    if magic != FT_MAGIC:
        raise ValueError(f"not a fastText model (magic {magic})")
    if version > FT_VERSION:
        raise ValueError(f"unsupported fastText model version {version}")
    args_vals = take("i" * 12)
    (t_val,) = take("d")
    args = dict(zip(_ARGS_FIELDS, args_vals))
    args["t"] = t_val
    size, nwords, nlabels = take("iii")
    ntokens, prune_sz = take("qq")
    entries: list[tuple[str, int, int]] = []
    for _ in range(size):
        end = data.index(b"\x00", off)
        word = data[off:end].decode("utf-8")
        off = end + 1
        count, etype = take("qb")
        entries.append((word, count, etype))
    if prune_sz > 0:
        take("ii" * prune_sz)
    words = [(w, c) for w, c, t in entries if t == 0]
    labels = [(w, c) for w, c, t in entries if t == 1]
    mats = []
    for _ in range(2):
        (quant,) = take("?")
        if quant:
            raise ValueError("quantised fastText models not supported")
        m, n = take("qq")
        mat = np.frombuffer(data, dtype="<f4", count=m * n, offset=off).reshape(m, n)
        off += m * n * 4
        mats.append(np.array(mat))  # own the memory
    return FastTextModel(args, words, labels, mats[0], mats[1], ntokens)
