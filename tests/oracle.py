"""Independent plain-pandas oracle of the pipeline semantics.

Deliberately written imperatively (per-row), with no Spark imports — the
point is an implementation different enough that agreement is evidence
(mirrors the reference e2e's independent server-side assertions,
/root/reference/spec/lumberjack_spec.rb:66-91).
"""

from __future__ import annotations

import re

import pandas as pd

SIG_LEN = 8


def oracle_parse_row(tokens) -> dict:
    toks = list(tokens)
    if not toks:
        return dict(
            head_token=None,
            tail_token=None,
            tok_sum=0,
            tok_max=None,
            n_distinct=None,
            payload_class="empty",
        )
    sig = "".join(str(t % 10) for t in toks[:SIG_LEN])
    if re.match(r"^(\d)\1", sig):
        cls = "doubled"
    elif "42" in sig:
        cls = "answer"
    elif sig[0] in "02468":
        cls = "even_head"
    else:
        cls = "odd_head"
    return dict(
        head_token=toks[0],
        tail_token=toks[-1],
        tok_sum=sum(toks),
        tok_max=max(toks),
        n_distinct=len(set(toks)),
        payload_class=cls,
    )


def oracle_route_row(fields: dict | None, n_tok: int) -> str:
    """Default route table semantics (datagen.default_routes), by hand."""
    f = fields or {}
    if f.get("type") == "syslog" and n_tok > 16:
        return "sink_syslog"
    if f.get("type") == "apache":
        return "sink_apache"
    if f.get("env") == "dev" or n_tok == 0:
        return "sink_dev"
    return "sink_default"


def oracle_pipeline(
    seqs: pd.DataFrame, dim: dict[str, dict[str, str]]
) -> pd.DataFrame:
    """sequences pandas frame + {source: fields} → routed frame with parse cols."""
    rows = []
    for r in seqs.itertuples():
        parsed = oracle_parse_row(r.tokens)
        fields = dim.get(r.source)
        rows.append(
            dict(
                doc_id=r.doc_id,
                source=r.source,
                n_tok=r.n_tok,
                tokens=list(r.tokens),
                fields=fields,
                sink=oracle_route_row(fields, r.n_tok),
                **parsed,
            )
        )
    return pd.DataFrame(rows)


def oracle_sink_source_counts(routed: pd.DataFrame) -> pd.DataFrame:
    g = (
        routed.groupby(["sink", "source"], as_index=False)
        .agg(
            row_count=("doc_id", "count"),
            token_total=("n_tok", "sum"),
            max_tokens=("n_tok", "max"),
        )
        .sort_values(["sink", "source"])
        .reset_index(drop=True)
    )
    return g


def read_metrics(path: str) -> pd.DataFrame:
    """A run's ``_metrics`` directory in :func:`oracle_sink_source_counts`'
    column and row order."""
    cols = ["sink", "source", "row_count", "token_total", "max_tokens"]
    return (
        pd.read_parquet(path)[cols]
        .sort_values(["sink", "source"])
        .reset_index(drop=True)
    )
