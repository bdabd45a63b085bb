"""ArcGIS-REST publish transport (K3/K6/K8/K11 + S9/S10 over the wire)
against the loopback portal simulator — the reference's postAndPublish /
OverwriteFS flows as three-call REST semantics."""

from __future__ import annotations

import pytest

from erddap2agol_spark.sinks.agol_httpd import AgolFixturePortal
from erddap2agol_spark.sinks.agol_rest import (
    AgolHttpError,
    AgolRestClient,
    publish_df,
    read_service,
)
from erddap2agol_spark.sinks.publish import ItemProperties


@pytest.fixture()
def portal():
    p = AgolFixturePortal()
    base = p.start()
    yield p, AgolRestClient(base)
    p.stop()


def _props(title="Buoy Layer"):
    return ItemProperties(
        title=title, snippet="snip", description="d",
        license_info="Public domain", tags=["e2a_test", "buoy_42"],
    )


def test_publish_roundtrip_and_paged_readback(spark, portal):
    _, client = portal
    df = spark.range(23).selectExpr("id AS k", "id * 2 AS v")
    item_id, svc = publish_df(df, client, _props())
    back = read_service(spark, client, svc, "k long, v long", page_size=7)
    rows = {(r.k, r.v) for r in back.collect()}
    assert rows == {(i, 2 * i) for i in range(23)}
    # paging really happened: ceil(23/7) = 4 query pages
    p = portal[0]
    assert sum("resultOffset" in r for r in p.request_log) >= 4


def test_409_collision_renames_like_the_reference(spark, portal):
    _, client = portal
    df = spark.range(3).selectExpr("id AS k")
    i1, _ = publish_df(df, client, _props())
    i2, _ = publish_df(df, client, _props())
    i3, _ = publish_df(df, client, _props())
    titles = {client.item_properties(i)["title"] for i in (i1, i2, i3)}
    assert titles == {"Buoy Layer", "Buoy Layer_2", "Buoy Layer_3"}


def test_overwrite_replaces_data_preserves_properties(spark, portal):
    """The K6+K8 observable contract over the wire: overwrite swaps the
    service's DATA but the item's properties survive (backup -> update
    -> restore), even when the overwrite carries different metadata."""
    _, client = portal
    first = spark.range(10).selectExpr("id AS k")
    item_id, svc = publish_df(first, client, _props())
    changed = ItemProperties(
        title="Buoy Layer", snippet="SHOULD NOT APPEAR",
        tags=["e2a_test", "buoy_42"],
    )
    second = spark.range(4).selectExpr("id + 100 AS k")
    item2, svc2 = publish_df(second, client, changed, overwrite=True)
    assert (item2, svc2) == (item_id, svc)
    back = read_service(spark, client, svc, "k long")
    assert sorted(r.k for r in back.collect()) == [100, 101, 102, 103]
    props = client.item_properties(item_id)
    assert props["snippet"] == "snip"  # original properties restored
    assert props["licenseInfo"] == "Public domain"


def test_untagged_overwrite_finds_item_by_title(spark, portal):
    """An overwrite of an item published without tags replaces that
    item's data instead of adding a renamed copy."""
    p, client = portal
    item_id, svc = publish_df(
        spark.range(3).selectExpr("id AS k"), client, ItemProperties(title="Untagged")
    )
    item2, svc2 = publish_df(
        spark.range(2).selectExpr("id + 100 AS k"),
        client,
        ItemProperties(title="Untagged"),
        overwrite=True,
    )
    assert (item2, svc2) == (item_id, svc)
    assert sorted(it["properties"]["title"] for it in p.items.values()) == ["Untagged"]
    back = read_service(spark, client, svc, "k long")
    assert sorted(r.k for r in back.collect()) == [100, 101]


def test_tag_search_inventory(spark, portal):
    _, client = portal
    df = spark.range(2).selectExpr("id AS k")
    i1, _ = publish_df(df, client, _props("Layer A"))
    publish_df(df, client, ItemProperties(title="Other", tags=["misc"]))
    hits = client.search("e2a_test")
    assert [h["id"] for h in hits] == [i1]


def test_payload_limit_guards_bulk_data(spark, portal):
    _, client = portal
    df = spark.range(50).selectExpr("id AS k")
    with pytest.raises(ValueError, match="payload exceeds"):
        publish_df(df, client, _props("Big"), payload_limit=10)


def test_http_errors_surface_with_code(spark, portal):
    _, client = portal
    with pytest.raises(AgolHttpError) as e:
        client.publish("no-such-item")
    assert e.value.code == 404


# ---------------------------------------------------------------------------
# Token boundary (VERDICT r6 #5 — reference core.py:787-804 login)
# ---------------------------------------------------------------------------


@pytest.fixture()
def auth_portal():
    p = AgolFixturePortal(require_auth=True)
    base = p.start()
    yield p, base
    p.stop()


def _auth_props():
    return ItemProperties(title="T", snippet="s", tags=["tag1"])


def test_anonymous_write_denied_499(spark, auth_portal):
    _, base = auth_portal
    client = AgolRestClient(base)
    with pytest.raises(AgolHttpError) as e:
        client.add_item(_auth_props(), "{}")
    assert e.value.code == 499


def test_bad_password_denied_401(spark, auth_portal):
    _, base = auth_portal
    client = AgolRestClient(base, password="nope")
    with pytest.raises(AgolHttpError) as e:
        client.add_item(_auth_props(), "{}")
    assert e.value.code == 401


def test_authed_publish_and_public_read(spark, auth_portal):
    p, base = auth_portal
    client = AgolRestClient(base, password="e2a_pw")
    iid = client.add_item(_auth_props(), '{"a": 1}')
    sid = client.publish(iid)
    # reads stay public: a fresh anonymous client can query the service
    anon = AgolRestClient(base)
    doc = anon._request(f"/rest/services/{sid}/FeatureServer/0/query?f=json")
    assert [f["attributes"] for f in doc["features"]] == [{"a": 1}]
    assert anon.item_properties(iid)["title"] == "T"


def test_expired_token_reauths_transparently(spark, auth_portal):
    p, base = auth_portal
    client = AgolRestClient(base, password="e2a_pw")
    iid = client.add_item(_auth_props(), '{"a": 1}')
    old_token = client._token
    p.expire_tokens()
    client.update_item(iid, payload='{"a": 2}')  # 498 -> re-auth -> retry
    assert client._token != old_token
    sid = client.publish(iid)
    doc = client._request(f"/rest/services/{sid}/FeatureServer/0/query?f=json")
    assert [f["attributes"] for f in doc["features"]] == [{"a": 2}]


def test_expired_token_without_credentials_raises_498(spark, auth_portal):
    p, base = auth_portal
    good = AgolRestClient(base, password="e2a_pw")
    iid = good.add_item(_auth_props(), "{}")
    stolen = AgolRestClient(base)
    stolen._token = good._token
    p.expire_tokens()
    with pytest.raises(AgolHttpError) as e:
        stolen.update_item(iid, payload="{}")
    assert e.value.code == 498


def test_oauth_client_credentials_login_and_publish(spark, auth_portal):
    """The app-login half of the auth boundary: an OAuth
    client_credentials grant mints an access token accepted by the same
    write boundary, a bad secret is refused with 400, and expiry
    re-auths transparently through the OAuth path."""
    p, base = auth_portal
    with pytest.raises(AgolHttpError) as e:
        AgolRestClient(base, client_id="e2a_app", client_secret="nope").login()
    assert e.value.code == 400
    app = AgolRestClient(base, client_id="e2a_app", client_secret="e2a_secret")
    iid = app.add_item(_auth_props(), '{"a": 7}')
    old = app._token
    assert old.startswith("app")
    p.expire_tokens()
    app.update_item(iid, payload='{"a": 8}')  # 498 -> OAuth re-auth -> retry
    assert app._token != old
    sid = app.publish(iid)
    doc = app._request(f"/rest/services/{sid}/FeatureServer/0/query?f=json")
    assert [f["attributes"] for f in doc["features"]] == [{"a": 8}]


def test_oauth_requires_client_credentials_grant(auth_portal):
    """A grant_type other than client_credentials is refused, even with
    valid app credentials (the portal implements only the app flow)."""
    p, base = auth_portal
    client = AgolRestClient(base)
    with pytest.raises(AgolHttpError) as e:
        client._request_raw(
            "/sharing/rest/oauth2/token",
            {"grant_type": "password", "client_id": "e2a_app",
             "client_secret": "e2a_secret", "f": "json"},
        )
    assert e.value.code == 400
