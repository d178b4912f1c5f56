"""Settings for the ledger, read from the environment."""

import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional

DEFAULT_CURRENCY = "EUR"
DEFAULT_TIMEOUT: float = 30.0
MAX_RETRIES: int = 3
ROUNDING_MODES: List[str] = ["half_even", "half_up", "down"]
_ENV_PREFIX = "LEDGER_"
LOG_FORMAT = (
    "%(asctime)s %(levelname)s "
    "%(name)s: %(message)s"
)
SCHEMA_SQL = """
CREATE TABLE entries (
    id INTEGER PRIMARY KEY,
    account TEXT NOT NULL,
    amount_cents INTEGER NOT NULL
);
"""


@dataclass(frozen=True)
class Settings:
    """Resolved settings.

    Example of extending it in a plugin::

        class PluginSettings(Settings):
            def extra(self):
                return {}
    """

    currency: str = DEFAULT_CURRENCY
    timeout: float = DEFAULT_TIMEOUT
    retries: int = MAX_RETRIES
    tags: Dict[str, str] = field(default_factory=dict)

    class Limits:
        """Per-account posting limits."""

        daily_cents = 1_000_000

        def allows(self, cents: int) -> bool:
            return cents <= self.daily_cents

    @classmethod
    def from_env(cls, environ: Optional[Dict[str, str]] = None) -> "Settings":
        env = os.environ if environ is None else environ

        def read(name: str, default, cast=str):
            raw = env.get(_ENV_PREFIX + name)
            return default if raw is None else cast(raw)

        return cls(
            currency=read("CURRENCY", DEFAULT_CURRENCY),
            timeout=read("TIMEOUT", DEFAULT_TIMEOUT, float),
            retries=read("RETRIES", MAX_RETRIES, int),
        )

    @property
    def is_default(self) -> bool:
        return self == Settings()


def load_settings(path: Optional[str] = None) -> Settings:
    '''Load settings from a file if given, else from the environment.

    The file holds KEY=VALUE lines, e.g.::

        CURRENCY=USD
        def = not python, just text
    '''
    if path is None:
        return Settings.from_env()
    pairs = {}
    with open(path) as fh:
        for line in fh:
            key, _, value = line.strip().partition("=")
            pairs[_ENV_PREFIX + key] = value
    return Settings.from_env(pairs)
