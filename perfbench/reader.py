"""Reads a result object out of captured program output.

A benchmark's result is the last line of its standard output that parses
as one JSON object. Output captured through sbt carries a log-level prefix
on every line (`[info] {...}`), WARN lines around it and a trailing
`[success] Total time ...` line; the prefix is stripped before parsing.
"""
import json
import re

_SBT_PREFIX = re.compile(r"^\[(?:info|warn|error|success)\] ?")


def last_json(text):
    """Return the last JSON object line of `text` as a dict, or None."""
    for line in reversed(text.splitlines()):
        line = _SBT_PREFIX.sub("", line.strip(), count=1).strip()
        if not line.startswith("{"):
            continue
        try:
            value = json.loads(line)
        except ValueError:
            continue
        if isinstance(value, dict):
            return value
    return None
