"""Seeded input generators for the three benchmark workloads.

The generators live here, not in ``sparkocr``, so that no change to the
program can change what the benchmark feeds it. Every choice comes from
``numpy.random.default_rng(seed)``: the same seed and size give the same
tables. Tables are written as ``N_FILES`` parquet files with timestamps
in microseconds (Spark 4 refuses pandas' nanosecond parquet timestamps).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# two files per core on the 4-vCPU reference box: the scan then yields
# enough partitions for local[4] without the benchmark repartitioning
N_FILES = 8

ROLES = ("user", "assistant", "tool", "system")
TOOLS = ("browser", "pdf_reader", "bash", "search")
EN_WORDS = (
    "the quick brown fox jumps over lazy dog while morning light settles "
    "across quiet rivers and distant mountains where travelers exchange "
    "stories about weather markets harvest plans and the long road home"
).split()
ZH_CHARS = (
    "数据处理引擎在大规模集群上运行需要仔细考虑分区倾斜与洗牌开销"
    "每个算子的语义必须与参考实现保持完全一致包括阈值与合并规则"
)
JA_CHARS = (
    "これはテストです大規模な分散処理では順序の保証が重要になります"
    "テキスト抽出エンジンは検出と認識の二段階で構成されています"
)
NAV = ("Home", "Products", "Pricing", "Docs", "About", "Careers", "Blog")
BASE_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z in microseconds



class _Text:
    """Word/char sampler over one rng."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def en(self, n: int) -> str:
        ws = [EN_WORDS[i] for i in self.rng.integers(0, len(EN_WORDS), n)]
        return " ".join(ws).capitalize() + "."

    def zh(self, n: int) -> str:
        return "".join(ZH_CHARS[i] for i in
                       self.rng.integers(0, len(ZH_CHARS), n)) + "。"

    def ja(self, n: int) -> str:
        return "".join(JA_CHARS[i] for i in
                       self.rng.integers(0, len(JA_CHARS), n)) + "。"


def _mixed_payload(tx: _Text, cls: int) -> str:
    """One turn of payload class ``cls``, the ten classes of
    ``sparkocr/fixtures.py``: plain, CJK, Japanese, HTML boilerplate,
    ANSI/tool noise, adjacent fragments, form-feed document, edge case,
    list, entities."""
    r = tx.rng
    if cls == 0:
        return tx.en(12) + "\n" + tx.en(10) + "\n\n" + tx.en(14)
    if cls == 1:
        return tx.zh(30) + "\n" + tx.zh(24)
    if cls == 2:
        return tx.ja(28)
    if cls == 3:
        nav = " ".join(f'<a href="/{it.lower()}">{it}</a>'
                       for it in NAV[:3 + int(r.integers(0, 4))])
        return (
            "<html><head><title>t</title></head><body>\n"
            f"<nav>{nav}</nav>\n<div class=\"content\">\n"
            f"{tx.en(16)}\n{tx.en(13)}\n</div>\n"
            "<footer><a href=\"/terms\">Terms</a> "
            "<a href=\"/privacy\">Privacy</a></footer>\n</body></html>")
    if cls == 4:
        return (
            f"Compiling module {int(r.integers(0, 1000))} please wait\n"
            "==========================================\n"
            "\x1b[32mProgress\x1b[0m ......................... done\n"
            f"```\n    x = compute({int(r.integers(0, 97))})\n"
            f"    return x\n```\n{tx.en(11)}")
    if cls == 5:
        return "\n".join(tx.en(8) for _ in range(3))
    if cls == 6:
        return (
            "[PAGE 1]\n[HEADER] Quarterly Report Confidential\n"
            f"{tx.en(15)}\n{tx.en(12)}\n[FOOTER] page 1 of 2\n\f[PAGE 2]\n"
            f"{tx.en(14)}\n[FOOTER] page 2 of 2")
    if cls == 7:
        return ("", "   \n  \t ", "tiny",
                "<div><span></span></div>")[int(r.integers(0, 4))]
    if cls == 8:
        return "Shopping notes below\n" + "\n".join(
            "- " + tx.en(int(k)) for k in r.integers(5, 8, 3))
    # entities; one in four escapes real markup, which decodes into tags
    # that only the per-turn path scores exactly
    if r.integers(0, 4) == 0:
        return f"Escaped &lt;b&gt;{tx.en(5)}&lt;/b&gt; in a reply\n{tx.en(9)}"
    return ("Tom &amp; Jerry said &quot;hello&quot; twice!!\n"
            + tx.en(12) + "???")


def _zipf_sizes(rng: np.random.Generator, n_rows: int, whale: int,
                cap: int) -> list[int]:
    """Conversation sizes summing to ``n_rows``: one whale of ``whale``
    turns, then Zipf(2) sizes of 2 to ``cap`` turns."""
    sizes = [whale]
    total = whale
    while total < n_rows:
        rem = n_rows - total
        s = min(int(rng.zipf(2.0)) + 1, cap, rem)
        if rem - s == 1:
            s += 1  # leave no one-turn conversation at the end
        sizes.append(s)
        total += s
    return sizes


def _turn_table(conv_ids, turn_idx, roles, texts, tools, perm) -> pa.Table:
    n = len(texts)
    ts = BASE_US + np.arange(n, dtype=np.int64) * 30_000_000
    t = pa.table({
        "conv_id": pa.array(conv_ids, pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tools, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    # stored in a seeded shuffle: order is recovered by the job, not
    # inherited from the file
    return t.take(pa.array(perm))


def mixed_turns(seed: int, n_rows: int) -> pa.Table:
    """Transcript turns over the ten payload classes, Zipf conversation
    sizes with one whale conversation of ~4% of the rows."""
    rng = np.random.default_rng([seed, 1])
    tx = _Text(rng)
    sizes = _zipf_sizes(rng, n_rows, whale=max(n_rows // 25, 2), cap=400)
    conv_ids, turn_idx, roles, texts, tools = [], [], [], [], []
    for c, size in enumerate(sizes):
        cid = f"conv-{seed:05d}-{c:06d}"
        for t in range(size):
            cls = int(rng.integers(0, 10))
            role = ROLES[int(rng.integers(0, 4))]
            if cls == 6 and rng.random() < 0.8:
                role = "tool"  # documents mostly arrive as tool output
            conv_ids.append(cid)
            turn_idx.append(t)
            roles.append(role)
            texts.append(_mixed_payload(tx, cls))
            tools.append(TOOLS[int(rng.integers(0, 4))]
                         if role == "tool" else "")
    return _turn_table(conv_ids, turn_idx, roles, texts, tools,
                       rng.permutation(len(texts)))


def chat_turns(seed: int, n_rows: int) -> pa.Table:
    """Plain chat: single-line and short multi-line turns (fast-path
    stages 1 and 2 only) over conversations of 2 to 12 turns."""
    rng = np.random.default_rng([seed, 2])
    tx = _Text(rng)
    conv_ids, turn_idx, roles, texts, tools = [], [], [], [], []
    c = 0
    while len(texts) < n_rows:
        size = min(int(rng.integers(2, 13)), max(n_rows - len(texts), 1))
        cid = f"chat-{seed:05d}-{c:07d}"
        for t in range(size):
            if rng.random() < 0.6:
                text = tx.en(int(rng.integers(4, 24)))
            else:
                text = "\n".join(tx.en(int(k)) for k in
                                 rng.integers(3, 14, int(rng.integers(2, 5))))
            conv_ids.append(cid)
            turn_idx.append(t)
            roles.append("user" if t % 2 == 0 else "assistant")
            texts.append(text)
            tools.append("")
        c += 1
    return _turn_table(conv_ids, turn_idx, roles, texts, tools,
                       rng.permutation(len(texts)))


# corpus build: planted redundancy that each funnel stage must remove
BOILER_LINES = (
    "We use cookies to improve your experience on this site.",
    "Subscribe to our newsletter for weekly updates and offers.",
    "Copyright 2025 Example Media Group. All rights reserved.",
    "Share this article on social media with your friends.",
)
# short-paragraph list documents ("x of y" items): every paragraph is
# under the 8-char paragraph-dedup floor and every line under the 8-char
# boilerplate floor, so copies reach whole-document exact dedup
# unchanged; the standalone middle stopword keeps them inside the
# quality gate's stopword band
LIST_HEADS = ("x", "y", "z", "ok", "go", "no", "up")
LIST_STOPS = ("a", "of", "to", "in", "is", "it", "on", "as", "at", "by")


def corpus_docs(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """A documents table (doc_id, source, text) with planted redundancy.
    Returns the table and the plant manifest the checks read:
    boilerplate lines, repeated passages, duplicated paragraphs, exact
    duplicate groups, and the doc ids planted to fail the quality gate
    or carry null text."""
    rng = np.random.default_rng([seed, 3])
    tx = _Text(rng)
    n_pass = max(n_docs // 200, 2)
    passages = [" ".join(EN_WORDS[i] for i in rng.integers(0, len(EN_WORDS), 60))
                + f" passage{seed}x{k}" for k in range(n_pass)]
    dup_paras = [tx.en(int(rng.integers(14, 30))) + f" para{seed}x{k}"
                 for k in range(max(n_docs // 100, 2))]
    texts: list = []
    plants = {"boiler_lines": list(BOILER_LINES), "passages": passages,
              "dup_paras": dup_paras, "exact_groups": [],
              "low_quality": [], "null_text": []}
    pass_uses = {k: 0 for k in range(n_pass)}
    para_uses = {k: 0 for k in range(len(dup_paras))}
    i = 0
    while len(texts) < n_docs:
        u = rng.random()
        if u < 0.01:  # null text: a failed fetch, dropped at the first stage
            plants["null_text"].append(i)
            texts.append(None)
        elif u < 0.04:  # too short / stopword-free: fails the quality gate
            plants["low_quality"].append(i)
            texts.append(" ".join(str(int(x)) for x in
                                  rng.integers(0, 10**6, int(rng.integers(3, 9)))))
        elif u < 0.06 and len(texts) + 3 <= n_docs:
            # exact-duplicate group of 2-3 list documents
            k = int(rng.integers(2, 4))
            body = "\n\n".join(
                f"{LIST_HEADS[a]} {LIST_STOPS[b]} {'xyz'[c]}"
                for a, b, c in zip(rng.integers(0, len(LIST_HEADS), 8),
                                   rng.integers(0, len(LIST_STOPS), 8),
                                   rng.integers(0, 3, 8))) \
                + f"\n\n#{i % 100000}"
            plants["exact_groups"].append(list(range(i, i + k)))
            texts.extend([body] * k)
            i += k
            continue
        else:
            paras = []
            for _ in range(int(rng.integers(2, 5))):
                lines = [tx.en(int(rng.integers(8, 20)))
                         for _ in range(int(rng.integers(1, 4)))]
                if rng.random() < 0.25:
                    lines.insert(int(rng.integers(0, len(lines) + 1)),
                                 BOILER_LINES[int(rng.integers(0, 4))])
                if rng.random() < 0.06:
                    k = int(rng.integers(0, n_pass))
                    pass_uses[k] += 1
                    lines[-1] = (lines[-1] + " " + passages[k] + " "
                                 + tx.en(5))
                paras.append("\n".join(lines))
            if rng.random() < 0.08:
                k = int(rng.integers(0, len(dup_paras)))
                if para_uses[k] < 5:  # < boilerplate min_df copies
                    para_uses[k] += 1
                    paras.insert(int(rng.integers(0, len(paras) + 1)),
                                 dup_paras[k])
            texts.append("\n\n".join(paras))
        i += 1
    src = np.array(["web", "news", "forum", "wiki"])[
        rng.integers(0, 4, len(texts))]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "source": pa.array(src.tolist(), pa.string()),
        "text": pa.array(texts, pa.string()),
    })
    plants["passages"] = [p for k, p in enumerate(passages)
                          if pass_uses[k] >= 2]
    plants["dup_paras"] = [p for k, p in enumerate(dup_paras)
                           if para_uses[k] >= 2]
    return table.take(pa.array(rng.permutation(len(texts)))), plants


def write_files(table: pa.Table, path: str) -> None:
    """Write ``table`` as ``N_FILES`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for k in range(N_FILES):
        a, b = n * k // N_FILES, n * (k + 1) // N_FILES
        pq.write_table(table.slice(a, b - a),
                       os.path.join(path, f"part-{k:03d}.parquet"))
