"""Async client for an exchange-rate service."""

import asyncio
import json
from typing import Dict, Optional

RATE_URL = "https://rates.example.invalid/v1/latest"
CACHE_SECONDS: int = 600
_session_lock = asyncio.Lock()


class RateError(RuntimeError):
    def __init__(self, status: int, body: str):
        super().__init__(f"rate service returned {status}")
        self.status = status
        self.body = body


class RateClient:
    """Fetches and caches rates.

    >>> class Fake(RateClient):
    ...     async def _get(self, url):
    ...         return 200, '{"EUR": 1.0}'
    """

    def __init__(self, base: str = "EUR", timeout: float = 5.0):
        self.base = base
        self.timeout = timeout
        self._cache: Dict[str, float] = {}
        self._fetched_at: Optional[float] = None

    async def _get(self, url: str):
        raise NotImplementedError

    async def refresh(self) -> Dict[str, float]:
        async with _session_lock:
            status, body = await asyncio.wait_for(
                self._get(f"{RATE_URL}?base={self.base}"), self.timeout
            )
            if status != 200:
                raise RateError(status, body)
            self._cache = json.loads(body)
            self._fetched_at = asyncio.get_running_loop().time()
            return self._cache

    def _stale(self) -> bool:
        if self._fetched_at is None:
            return True
        return asyncio.get_running_loop().time() - self._fetched_at > CACHE_SECONDS

    async def rate(self, currency: str) -> float:
        if self._stale():
            await self.refresh()
        return self._cache[currency]

    async def convert_all(self, amounts: Dict[str, int]) -> Dict[str, int]:
        async def one(cur: str, cents: int):
            return cur, round(cents / await self.rate(cur))

        pairs = await asyncio.gather(*(one(c, v) for c, v in amounts.items()))
        return dict(pairs)

    @staticmethod
    async def retrying(coro_factory, attempts: int = 3, delay: float = 0.1):
        for attempt in range(attempts):
            try:
                return await coro_factory()
            except RateError:
                if attempt == attempts - 1:
                    raise
                await asyncio.sleep(delay * (2 ** attempt))


async def fetch_rate(currency: str, client: Optional[RateClient] = None) -> float:
    client = client or RateClient()
    return await client.rate(currency)
