import asyncio
import json

import pytest

from ledger.client import RateClient, RateError, fetch_rate

RATES = {"EUR": 1.0, "USD": 1.25}


class FakeClient(RateClient):
    def __init__(self, responses):
        super().__init__()
        self.responses = list(responses)
        self.calls = 0

    async def _get(self, url):
        self.calls += 1
        return self.responses.pop(0)


@pytest.fixture
def ok_client():
    return FakeClient([(200, json.dumps(RATES))] * 2)


@pytest.mark.asyncio
async def test_rate_is_cached(ok_client):
    assert await ok_client.rate("USD") == 1.25
    assert await ok_client.rate("EUR") == 1.0
    assert ok_client.calls == 1


@pytest.mark.asyncio
async def test_error_status_raises():
    client = FakeClient([(503, "busy")])
    with pytest.raises(RateError) as err:
        await client.refresh()
    assert err.value.status == 503


@pytest.mark.asyncio
async def test_retrying_recovers():
    client = FakeClient([(503, "busy"), (200, json.dumps(RATES))])

    async def attempt():
        return await client.refresh()

    rates = await RateClient.retrying(attempt, attempts=2, delay=0)
    assert rates == RATES


def test_fetch_rate_sync_wrapper(ok_client):
    assert asyncio.run(fetch_rate("USD", ok_client)) == 1.25
