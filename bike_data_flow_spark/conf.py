"""Configuration provider — the engine mapping of the reference's Vault
secrets layer (SURVEY §2.11: "configuration provider for S3A
credentials/API URL, not a query operator").

Resolution chain mirrors config.py:37-146 (Vault → env → default),
minus Vault itself (external service): explicit dict → environment →
default. The result lands in spark.conf / Hadoop conf, which is where
a Spark engine consumes credentials.
"""

from __future__ import annotations

import os

DEFAULTS = {
    "api_url": "https://wrm.example/api/stations",  # stand-in; reference default is the WRM endpoint
    "s3_endpoint": None,
    "s3_access_key": None,
    "s3_secret_key": None,
}

ENV_KEYS = {
    "api_url": "WRM_API_URL",
    "s3_endpoint": "S3_ENDPOINT_URL",
    "s3_access_key": "AWS_ACCESS_KEY_ID",
    "s3_secret_key": "AWS_SECRET_ACCESS_KEY",
}


def resolve(overrides: dict | None = None, env: dict | None = None) -> dict:
    """overrides → environment → defaults (first non-None wins)."""
    env = os.environ if env is None else env
    overrides = overrides or {}
    out = {}
    for key, default in DEFAULTS.items():
        if overrides.get(key) is not None:
            out[key] = overrides[key]
        elif env.get(ENV_KEYS[key]):
            out[key] = env[ENV_KEYS[key]]
        else:
            out[key] = default
    return out

