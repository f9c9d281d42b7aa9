"""Pure-numpy loader + classifier for fasttext's public ``model.bin``
format — the pretrained-model slot of the reference's
``filter_fasttext`` (datatrove FastTextClassifierFilter wraps the
fasttext library; SURVEY §2.4).  This module makes the seam accept the
real artifact when a corpus owner ships one, with no fasttext install.

Format (fasttext src/fasttext.cc saveModel — stable since 0.2):

    int32 magic 793712314, int32 version (11/12)
    args: dim ws epoch minCount neg wordNgrams loss model bucket minn
          maxn lrUpdateRate (int32 each) + t (float64)
    dict: size nwords nlabels (int32), ntokens pruneidx_size (int64),
          entries: bytes+NUL, count int64, type int8; pruneidx pairs
    quant flag int8 → dense input Matrix (m,n int64 + float32 data)
    qout flag int8 → dense output Matrix

Supervised inference = mean of the input vectors of sentence tokens
(words + ``</s>``; subword char-ngrams when minn>0; hashed word-ngrams
when wordNgrams>1 — both via fasttext's FNV-1a variant) → output-matrix
product → argmax label.  Quantized (.ftz) models raise: product
quantization tables are out of scope here.

Spark-side: the model is a few-hundred-MB-max numpy pair broadcast to
executors once; classification is one Arrow stage (mapInPandas), no
per-row Python round trips.
"""

from __future__ import annotations

import struct

FT_MAGIC = 793712314

_ARGS_INT = ["dim", "ws", "epoch", "minCount", "neg", "wordNgrams",
             "loss", "model", "bucket", "minn", "maxn", "lrUpdateRate"]


class FastTextModel:
    def __init__(self, args, words, labels, input_mat, output_mat):
        self.args = args
        self.word_ids = {w: i for i, w in enumerate(words)}
        self.labels = labels
        self.input = input_mat    # (nwords + bucket) × dim
        self.output = output_mat  # nlabels × dim

    # fasttext's FNV-1a over the word's UTF-8 bytes (dictionary.cc hash)
    @staticmethod
    def _hash(s: bytes) -> int:
        h = 2166136261
        for b in s:
            h ^= b
            h = (h * 16777619) & 0xFFFFFFFF
        return h

    def _subwords(self, word: str) -> list[int]:
        """Char-ngram bucket rows for one word — fasttext's
        computeSubwords rule exactly: lengths 1..maxn over ``<word>``,
        pushed when length ≥ minn EXCEPT the two length-1 boundary
        ngrams (the lone ``<`` and ``>``); the full ``<word>`` ngram IS
        included when its length fits.  Hashes are over the ngram's
        UTF-8 bytes, rows offset by nwords."""
        a = self.args
        if a["maxn"] <= 0 or a["minn"] <= 0:
            return []
        bw = f"<{word}>"
        out = []
        n = len(bw)
        for i in range(n):
            for ln in range(1, a["maxn"] + 1):
                j = i + ln
                if j > n:
                    break
                if ln >= a["minn"] and not (ln == 1 and (i == 0 or j == n)):
                    h = self._hash(bw[i:j].encode("utf-8")) % a["bucket"]
                    out.append(len(self.word_ids) + h)
        return out

    def _line_rows(self, tokens: list[str]) -> list[int]:
        """fasttext Dictionary::getLine + addWordNgrams fidelity: every
        word-type token's hash joins the rolling word-ngram combination
        (known or NOT — unknown words still shape the ngram buckets);
        known words contribute their id + subword ngrams, unknown words
        subword ngrams only, and EOS contributes just its id (initNgrams
        skips EOS)."""
        a = self.args
        rows, word_hashes = [], []
        for w in tokens:
            wid = self.word_ids.get(w)
            if wid is not None:
                rows.append(wid)
                if w != "</s>":
                    rows.extend(self._subwords(w))
            else:
                rows.extend(self._subwords(w))
            word_hashes.append(self._hash(w.encode("utf-8")))
        if a["wordNgrams"] > 1:
            # fasttext stores the FNV hashes in a vector<int32_t>;
            # addWordNgrams then does ``uint64_t h = hashes[i]`` — an
            # int32→uint64 conversion that SIGN-EXTENDS hashes >= 2^31
            # (about half of all tokens).  Mirror that exactly: interpret
            # each 32-bit hash as signed before the mod-2^64 combine
            # (ADVICE r05 medium).
            se = [h - (1 << 32) if h >= (1 << 31) else h for h in word_hashes]
            for i in range(len(se)):
                h = se[i] & 0xFFFFFFFFFFFFFFFF
                for j in range(i + 1, min(i + a["wordNgrams"], len(se))):
                    h = (h * 116049371 + se[j]) & 0xFFFFFFFFFFFFFFFF
                    rows.append(len(self.word_ids) + h % a["bucket"])
        return rows

    # fasttext args.h loss_name enum
    LOSS_HS, LOSS_NS, LOSS_SOFTMAX, LOSS_OVA = 1, 2, 3, 4

    def predict(self, text: str) -> tuple[str, float]:
        """(best label, score) for one document.

        loss=softmax: calibrated softmax probability (the library's
        supervised default).  loss=ns/ova: the library scores labels with
        a per-label sigmoid (BinaryLogisticLoss::computeOutput) — same
        ranking as the raw logits, but the score is NOT a calibrated
        probability.  loss=hs is rejected at load time (the output rows
        are Huffman-tree internal nodes, not label vectors)."""
        import numpy as np

        tokens = text.split() + ["</s>"]
        rows = self._line_rows(tokens)
        if not rows:
            return self.labels[0], 1.0 / max(1, len(self.labels))
        vec = self.input[rows].mean(axis=0)
        logits = self.output @ vec
        if self.args["loss"] in (self.LOSS_NS, self.LOSS_OVA):
            k = int(logits.argmax())
            return self.labels[k], float(1.0 / (1.0 + np.exp(-logits[k])))
        logits -= logits.max()
        probs = np.exp(logits)
        probs /= probs.sum()
        k = int(probs.argmax())
        return self.labels[k], float(probs[k])


def load_fasttext_model(path: str) -> FastTextModel:
    import numpy as np

    with open(path, "rb") as f:
        magic, version = struct.unpack("<ii", f.read(8))
        if magic != FT_MAGIC:
            raise ValueError(f"not a fasttext model: magic {magic}")
        args = dict(zip(_ARGS_INT,
                        struct.unpack("<" + "i" * len(_ARGS_INT),
                                      f.read(4 * len(_ARGS_INT)))))
        args["t"] = struct.unpack("<d", f.read(8))[0]
        if args["loss"] == FastTextModel.LOSS_HS:
            raise NotImplementedError(
                "loss=hs fasttext models unsupported — the output matrix "
                "holds hierarchical-softmax tree internal-node vectors, "
                "not label vectors; prediction needs the tree traversal")
        size, nwords, nlabels = struct.unpack("<iii", f.read(12))
        _ntokens, pruneidx_size = struct.unpack("<qq", f.read(16))
        words, labels = [], []
        for _ in range(size):
            chars = bytearray()
            while True:
                c = f.read(1)
                if c == b"\x00" or not c:
                    break
                chars += c
            _count = struct.unpack("<q", f.read(8))[0]
            etype = struct.unpack("<b", f.read(1))[0]
            name = chars.decode("utf-8", "replace")
            (labels if etype == 1 else words).append(name)
        if pruneidx_size > 0:
            f.read(8 * pruneidx_size)  # (int32, int32) pairs
        quant = struct.unpack("<b", f.read(1))[0]
        if quant:
            raise NotImplementedError(
                "quantized (.ftz) fasttext models unsupported — "
                "product-quantization tables need the library")
        m, n = struct.unpack("<qq", f.read(16))
        input_mat = np.frombuffer(f.read(4 * m * n),
                                  dtype="<f4").reshape(m, n).copy()
        qout = struct.unpack("<b", f.read(1))[0]
        if qout:
            raise NotImplementedError("quantized output matrix unsupported")
        m2, n2 = struct.unpack("<qq", f.read(16))
        output_mat = np.frombuffer(f.read(4 * m2 * n2),
                                   dtype="<f4").reshape(m2, n2).copy()
    assert len(words) == nwords and len(labels) == nlabels, \
        (len(words), nwords, len(labels), nlabels)
    return FastTextModel(args, words, labels, input_mat, output_mat)


def fasttext_classify(df, model_path: str, text_col: str = "text",
                      label_col: str = "ft_label",
                      prob_col: str = "ft_prob"):
    """Arrow-batched classification over a DataFrame: loads the model
    once per executor (function-local cache), no per-row Python."""
    schema = (df.schema.simpleString()[7:-1]
              + f",{label_col}:string,{prob_col}:double")

    def run(batches):
        model = load_fasttext_model(model_path)
        for pdf in batches:
            preds = [model.predict(t or "") for t in pdf[text_col]]
            pdf[label_col] = [p[0] for p in preds]
            pdf[prob_col] = [p[1] for p in preds]
            yield pdf

    return df.mapInPandas(run, schema)
