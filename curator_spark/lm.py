"""Deterministic char-trigram language model (KenLM-style perplexity stage).

The reference scores pages with an LLM (the expensive per-row map,
/root/reference/src/bespokelabs/curator/request_processor/online/
base_online_request_processor.py:346-398). Per the north rule, our engine
replaces it with a deterministic n-gram perplexity model. The model is
*built from a fixed embedded corpus at first use* — a pure function of this
source file — so every executor, the oracle, and every rerun score
identically (no artifact files to ship; analog of the reference's
fingerprint-stable function hashing, llm/llm.py:271-302).

Executor usage pattern: loaded once per python worker via the module-level
singleton (mirrors the reference's load-once model guard,
request_processor/offline/base_offline_request_processor.py:156-157).
"""

from __future__ import annotations

import math

import numpy as np

# Fixed training corpus: plain English prose + the synthetic-doc vocabulary
# (so clean generated pages score low-perplexity and byte-noise scores high).
_TRAIN_CORPUS = (
    "the quick brown fox jumps over the lazy dog. "
    "education is the most powerful weapon which you can use to change the world. "
    "a journey of a thousand miles begins with a single step. "
    "data processing at scale requires careful attention to partitioning and shuffle. "
    "students learn best when lessons are clear, coherent, and well structured. "
    "the table scan reads rows in batches and the filter keeps matching rows. "
    "join order sort merge hash group query row data slow small filter customer line "
    "the batch value merge line table data line join agg line merge slow join sort agg "
    "part merge column filter key data a part batch merge data row window stream spark "
    "fast key order sort table scan merge part window small hash scan join order batch "
    "big vector dup group query the a an and of to in is are was for on with at by "
    "le la les un une des et ou de dans est sont pour avec que qui ne pas au aux "
    "el la los las un una y o de en es son para con que no se al lo este esta "
    "der die das ein eine und oder von zu im ist sind war fur mit als nicht haben "
) * 2

_ALPHABET = "abcdefghijklmnopqrstuvwxyz .,0123456789"
_CHAR_TO_ID = {c: i for i, c in enumerate(_ALPHABET)}
_V = len(_ALPHABET) + 1  # +1 = OOV bucket
_OOV = _V - 1
_ADD_K = 0.1

# Vectorized encoder table: codepoint -> symbol id (ASCII range; any
# codepoint >= 128 is OOV, same as the dict-get fallback it replaces).
_ENCODE_LUT = np.full(128, _OOV, dtype=np.int64)
for _c, _i in _CHAR_TO_ID.items():
    _ENCODE_LUT[ord(_c)] = _i
# The batch scorer's encoder: every codepoint -> symbol id in ONE uint8
# take, and a trigram (a, b, c) -> flat uint16 index (a*V + b)*V + c.
_ENCODE_U8 = np.full(0x110000, _OOV, dtype=np.uint8)
_ENCODE_U8[:128] = _ENCODE_LUT
assert _V**3 <= 1 << 16, "trigram index must fit uint16"


class CharTrigramLM:
    """Add-k smoothed char trigram LM over a fixed 40-symbol alphabet."""

    def __init__(self) -> None:
        ids = self._encode(_TRAIN_CORPUS.lower())
        counts = np.full((_V * _V, _V), _ADD_K, dtype=np.float64)
        for i in range(2, len(ids)):
            counts[ids[i - 2] * _V + ids[i - 1], ids[i]] += 1.0
        self._logp = np.log(counts / counts.sum(axis=1, keepdims=True))
        self._logp_flat = self._logp.ravel()

    @staticmethod
    def _encode(text: str) -> np.ndarray:
        # utf-32 round-trip gives the exact codepoint array (one element per
        # char, matching the per-char dict-get spec bit-for-bit, unlike a
        # utf-8 view which would split non-ASCII chars into several bytes).
        # surrogatepass: lone surrogates (surrogateescape-decoded input) must
        # score as OOV like any other >=128 codepoint, not crash the stage.
        codes = np.frombuffer(text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
        return np.where(codes < 128, _ENCODE_LUT[np.minimum(codes, 127)], _OOV)

    def perplexity(self, text: str) -> float:
        """exp(-mean log p(c_i | c_{i-2} c_{i-1})) over the lowercased text.

        Short texts (<3 chars) get perplexity 0.0 (no evidence — the length
        rule handles them).
        """
        ids = self._encode(text.lower())
        if len(ids) < 3:
            return 0.0
        ctx = ids[:-2] * _V + ids[1:-1]
        lp = self._logp[ctx, ids[2:]]
        return float(math.exp(-lp.mean()))

    def perplexities(self, texts) -> np.ndarray:
        """Batch scoring for the pandas UDF path: all texts are encoded and
        trigram-scored as ONE concatenated array (amortizing numpy's
        per-call overhead, measured ~6x vs per-row), then each row's
        log-probs are recovered by slicing. Bit-identical to per-row
        ``perplexity``: the uint8 table and flat uint16 trigram index pick
        the same ``_logp`` entries as its int64 ids and 2-D index; a row's
        trigrams occupy lp[s:e-2] (the two boundary-crossing trigrams per
        row are simply never read); and np.mean is the pairwise sum (the
        same over a contiguous slice as over a standalone array) divided by
        the count, which is what the row's sum / (n - 2) computes.
        Sub-batched to bound peak memory."""
        out = np.empty(len(texts))
        pos = 0
        chunk: list[str] = []
        chunk_chars = 0
        flush = object()  # distinct sentinel: None is a VALID row value
        for t in list(texts) + [flush]:
            if t is not flush:
                chunk.append((t or "").lower())
                chunk_chars += len(chunk[-1])
                if chunk_chars < 2_000_000:
                    continue
            if not chunk:
                break
            lens = [len(c) for c in chunk]
            codes = np.frombuffer("".join(chunk).encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
            ids = _ENCODE_U8.take(codes)
            tri = ids[:-2].astype(np.uint16)
            tri *= _V
            tri += ids[1:-1]
            tri *= _V
            tri += ids[2:]
            lp = self._logp_flat.take(tri)
            s = 0
            for n in lens:
                out[pos] = math.exp(-(lp[s : s + n - 2].sum() / (n - 2))) if n >= 3 else 0.0
                pos += 1
                s += n
            chunk, chunk_chars = [], 0
        return out


_SINGLETON: CharTrigramLM | None = None


def get_lm() -> CharTrigramLM:
    """Executor-local singleton (built once per python worker)."""
    global _SINGLETON
    if _SINGLETON is None:
        _SINGLETON = CharTrigramLM()
    return _SINGLETON
