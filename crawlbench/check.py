"""Oracle check for one crawl session.

The expected outputs come from the pure-Python oracles over the same
pages, robots bodies and configuration the session ran with; a session
that stopped and resumed is compared with the uninterrupted oracle.
"""

from __future__ import annotations

from axora_spark import oracle, oracle_content
from axora_spark.operators.chunking import resolve_token_counter, \
    token_count_py

# the counter each configured tokenizer must resolve to; a vocabulary that
# appears later would otherwise change the workload without notice
EXPECTED_COUNTER = {
    "estimate": f"{token_count_py.__module__}.{token_count_py.__qualname__}",
    "wordpiece": "axora_spark.functions.wordpiece.count_tokens",
}


def counter_name(tokenizer: str) -> str:
    fn = resolve_token_counter(tokenizer)
    return f"{fn.__module__}.{fn.__qualname__}"


def expected(wl) -> dict:
    """Oracle outputs for workload `wl` (see workloads.Workload)."""
    want = oracle.simulate(wl.pages, wl.cfg, wl.robots_txt)
    exp = {"admitted": want.admitted, "seen": want.seen}
    if wl.content:
        docs = oracle_content.expected_documents(wl.pages, want.seen, wl.cfg)
        exp["spans"] = {
            doc_id: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in d["spans"]]
            for doc_id, d in docs.items()}
        exp["chunks"] = sorted(oracle_content.expected_chunks(docs, wl.cfg))
    return exp


def collect(spark, catalog, content: bool) -> dict:
    """The session's outputs, in the oracle's shapes."""
    got = {
        "admitted": sorted(
            tuple(r) for r in catalog.read(spark, "admitted")
            .select("wave", "host", "rank", "url", "depth").collect()),
        "seen": {r.url for r in
                 catalog.read(spark, "seen").select("url").collect()},
    }
    if content:
        got["spans"] = {
            r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                       for s in r.spans]
            for r in catalog.read(spark, "documents")
            .select("doc_id", "spans").collect()}
        got["chunks"] = sorted(
            tuple(r) for r in catalog.read(spark, "chunks")
            .select("doc_id", "chunk_index", "text", "token_count")
            .collect())
    return got


def mismatches(got: dict, exp: dict) -> list[str]:
    """Names of the outputs that differ from the oracle (empty = pass)."""
    bad = [k for k in exp if got.get(k) != exp[k]]
    if not exp["admitted"]:
        bad.append("admitted-empty")
    return bad


def self_check(got: dict, exp: dict) -> bool:
    """The check is not vacuous: dropping one admitted row must fail it."""
    if not got["admitted"]:
        return False
    dropped = dict(got, admitted=got["admitted"][:-1])
    return "admitted" in mismatches(dropped, exp)
