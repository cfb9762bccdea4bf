"""Env-first, CLI-fallback job configuration (Config.fromEnv order,
Config.scala:186-242): a set environment variable wins, the flags and
their defaults fill the rest. spark-submit ships only the package zip,
so the jobs share this resolver from here."""

from __future__ import annotations

import os


def resolve_env_first(parser, env_vars, argv):
    """Parse `argv` with `parser`, then overlay each variable of
    `env_vars` ({attr: (VAR, cast)}) that is set and non-empty. A set
    variable always wins, falsy-but-valid values like
    RE_ANALYSIS_INTERVAL=0 included; one its cast rejects is a usage
    error."""
    args = parser.parse_args(argv)
    for attr, (var, cast) in env_vars.items():
        raw = os.environ.get(var)
        if raw is None or raw == "":
            continue
        try:
            value = cast(raw)
        except ValueError:
            parser.error(f"env {var} is not a valid {cast.__name__}")
        setattr(args, attr, value)
    return args


def require(parser, args, names) -> None:
    """Usage error naming every parameter of `names` that neither a
    flag nor the environment set."""
    missing = [k for k in names if not getattr(args, k)]
    if missing:
        parser.error(
            "missing required parameters (flag or env): "
            + ", ".join(f"--{m}" for m in missing)
        )
