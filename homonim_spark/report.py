"""Text report tables + YAML config merge for the CLI.

Counterparts of the reference's tabulate-based stats tables
(``/root/reference/homonim/utils.py:38-51``, ``compare.py:188-210``) and its
``FuseCommand`` yaml config merge (``/root/reference/homonim/cli.py:88-117``):
a config file fills in parameters the user did not give on the command line;
unknown config keys are an error.
"""

from __future__ import annotations

from typing import Any, Dict, List, Sequence


def _fmt_cell(v: Any) -> str:
    if v is None:
        return "-"
    if isinstance(v, float):
        return f"{v:.3f}"
    return str(v)


def format_table(records: List[Dict[str, Any]]) -> str:
    """Plain-text stats table in the reference's tabulate format (header row,
    dashed rule, space-separated columns, zero padding; numbers right-aligned,
    text left-aligned, floats to 3 dp); columns are the first record's keys."""
    if not records:
        return ""
    cols = list(records[0].keys())
    cells = [[_fmt_cell(r.get(c)) for c in cols] for r in records]
    numeric = [all(isinstance(r.get(c), (int, float)) or r.get(c) is None
                   for r in records) for c in cols]
    widths = [max([len(c)] + [len(row[i]) for row in cells])
              for i, c in enumerate(cols)]

    def fmt_row(vals):
        return " ".join(
            v.rjust(w) if num else v.ljust(w)
            for v, w, num in zip(vals, widths, numeric)
        ).rstrip()

    rule = " ".join("-" * w for w in widths)
    return "\n".join([fmt_row(cols), rule] + [fmt_row(row) for row in cells])


def merge_cli_config(args, argv: Sequence[str], config_path: str,
                     parser_dests: Sequence[str]) -> None:
    """Merge a yaml config into parsed args, in place.

    Reference semantics (``cli.py:95-110``): a config value applies only
    when the matching option was NOT given on the command line; a config key
    that is not a known parameter raises.  Keys use either underscores or
    dashes (``kernel-shape`` == ``kernel_shape``)."""
    import yaml

    with open(config_path) as fh:
        conf = yaml.safe_load(fh) or {}
    if not isinstance(conf, dict):
        raise ValueError(f"config file {config_path} must be a mapping")
    given = {a.split("=", 1)[0].lstrip("-").replace("-", "_")
             for a in argv if isinstance(a, str) and a.startswith("--")}
    for key, value in conf.items():
        dest = str(key).replace("-", "_")
        if dest not in parser_dests:
            raise ValueError(f'unknown config file parameter "{key}"')
        if dest in given:
            continue  # command line wins
        setattr(args, dest, value)
